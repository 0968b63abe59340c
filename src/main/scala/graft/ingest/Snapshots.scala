package graft.ingest

import java.nio.file.{Files, Path, Paths, StandardOpenOption}
import scala.jdk.CollectionConverters._
import scala.util.Using
import scala.util.control.NonFatal

import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName

import org.apache.spark.sql.{Column, DataFrame, GraftStreamingShim, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{And, Attribute, AttributeReference, AttributeSet, Expression, InSet, Literal, OuterReference, SubqueryExpression}
import org.apache.spark.sql.classic.ColumnConversions
import org.apache.spark.sql.functions.{col, input_file_name}
import org.apache.spark.sql.sources
import org.apache.spark.unsafe.types.UTF8String

/** Versioned snapshot log for topic tables — the minimal transactional
  * lakehouse layer (the reference offloads to Delta; with no Delta jar
  * in the container we own the commit log, SURVEY.md §7).
  *
  * Each version pins the exact data-file set, the files it superseded
  * (compaction), and the offload watermark at commit time; the log
  * format is [[CommitLog]].
  *
  * Properties:
  *  - readers of version N see exactly N's file set — concurrent
  *    appends never tear a scan (snapshot isolation);
  *  - time travel = reading an old version;
  *  - the commit is one atomic CREATE_NEW file create — two writers
  *    racing to the same version lose deterministically
  *    ([[ConcurrentCommitException]]); every commit goes through
  *    [[commitNext]], which retries a lost race against the fresh log
  *    state (append⋈append never conflicts logically, exactly Delta's
  *    optimistic-concurrency rule);
  *  - [[compact]] rewrites a snapshot's small files into one file per
  *    partition and commits a version that supersedes (NOT deletes)
  *    the originals — older versions stay readable until [[vacuum]];
  *  - at 100 TB the log stores file names, not data — O(files) cost,
  *    same shape Delta/Iceberg manifests take.
  */
object Snapshots {

  import CommitLog.{ckptPath, logDir, versionPath}

  final class ConcurrentCommitException(version: Int)
    extends RuntimeException(s"concurrent commit lost the race for v$version")

  /** A concurrent commit changed what this op's output was derived
    * from — it removed one of the op's input files, or committed a
    * deletion vector a rewrite's input read did not apply — so
    * committing the output would resurrect deleted rows or duplicate
    * rewritten ones. Delta aborts these the same way. */
  final class RewriteConflictException(op: String, detail: String)
    extends RuntimeException(s"$op conflicts with a concurrent commit: $detail")

  /** A full-state checkpoint is written alongside every Nth version
    * file (Delta's `_last_checkpoint` cadence): readers replay at most
    * N delta manifests on top of one checkpoint, so the open cost of a
    * million-commit table is O(N), not O(history). Mutable only for
    * the log spec (exercising multi-checkpoint chains cheaply). */
  @volatile private[graft] var checkpointInterval: Int = 10

  /** Count of log/checkpoint FILE READS (not dir listings) — the
    * delta-log spec pins "a reader opens one checkpoint plus a bounded
    * delta tail" with this, so a regression back to O(history) replay
    * is unrepresentable. */
  private[graft] val logOpens = new java.util.concurrent.atomic.AtomicLong

  /** The decoded entry of version `v`'s log file. */
  private def entryOf(root: String, prefix: String, v: Int): CommitLog.Entry = {
    logOpens.incrementAndGet()
    CommitLog.decode(Files.readAllBytes(versionPath(root, prefix, v)))
  }

  /** Label the Spark jobs of an engine-internal action (guide §1.5 —
    * the UI and job-level profilers attribute DML/commit phases by
    * these descriptions). Restores the caller's description. */
  private def labeled[T](spark: SparkSession, desc: String)(f: => T): T = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription("graft: " + desc)
    try f finally sc.setJobDescription(prev)
  }

  /** The metric `df.observe(name, …)` reported when `df`'s plan ran.
    * UPDATE, MERGE and DELETE decide what to commit from these, so an
    * absent one (never run, or its node planned away) fails here
    * instead of reading as "nothing matched". */
  private[graft] def observedMetric(df: DataFrame, name: String): org.apache.spark.sql.Row =
    df.queryExecution.observedMetrics.getOrElse(name, throw new IllegalStateException(
      s"observed metric $name was not reported; refusing to read it as empty"))

  private def dataDir(root: String, prefix: String): Path =
    Paths.get(Topics.tableDir(root, prefix))

  /** Current committed versions, ascending. */
  def versions(root: String, prefix: String): Seq[Int] = {
    val d = logDir(root, prefix)
    if (!Files.isDirectory(d)) Seq.empty
    else Using.resource(Files.list(d))(_.iterator().asScala
      .flatMap(p => CommitLog.versionOf(p.getFileName.toString))
      .toSeq).sorted
  }

  /** List current data files under the table dir (recursive, parquet
    * only), relative to the table dir. */
  private def listDataFiles(root: String, prefix: String): Seq[String] = {
    val base = dataDir(root, prefix)
    if (!Files.isDirectory(base)) Seq.empty
    else Using.resource(Files.walk(base))(_.iterator().asScala
      .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".parquet"))
      .map(p => base.relativize(p).toString)
      .toSeq).sorted
  }

  /** Every file any committed snapshot pins, up to version `upTo`
    * (None = the whole log). O(checkpoint + tail), not O(versions ×
    * files): the fold starts from the newest checkpoint carrying the
    * cumulative `refsEver` set (older checkpoints lack it) and adds the
    * files of every version after it. A delta's full state is its
    * parent's plus its adds, so the union of all states is the union
    * of all adds plus any full-format roots — Delta derives its
    * tombstone set the same way from checkpoint + tail actions. */
  private def referencedFiles(root: String, prefix: String,
                              upTo: Option[Int] = None): Set[String] = {
    val vs = versions(root, prefix).filter(v => upTo.forall(v <= _))
    val refsAt = vs.reverseIterator.filter(v => Files.isRegularFile(ckptPath(root, prefix, v)))
      .flatMap(v => readCheckpoint(root, prefix, v).refsEver.map(v -> _)).nextOption()
    val from = refsAt.fold(-1)(_._1)
    vs.filter(_ > from).foldLeft(refsAt.fold(Set.empty[String])(_._2.toSet)) { (refs, v) =>
      val e = entryOf(root, prefix, v)
      refs ++ e.files.getOrElse(e.add)
    }
  }

  /** Marker prefix for compaction rewrites. Compaction must write its
    * output BEFORE committing the snapshot that pins it; if that commit
    * loses the race or the process dies, the rewrites are orphans on
    * disk. A directory-listing commit would adopt them — duplicating
    * every compacted row — so rewrites carry this basename marker and
    * [[commit]] only trusts marked files a snapshot already references. */
  private[graft] val CompactedPrefix = "compacted-"

  private def isCompacted(relPath: String): Boolean =
    Paths.get(relPath).getFileName.toString.startsWith(CompactedPrefix)

  /** Per-file min/max of a column, read from the parquet footer at
    * commit time and carried in the manifest — the Delta/Iceberg
    * data-skipping pattern: the read path drops files by range without
    * opening them, which at 100 TB is the difference between listing
    * manifests and scanning the table.
    *
    * `typ` names the key space the Long pair lives in: "L" = raw INT64
    * values, "D" = [[SortKeys.doubleKey]] of a DOUBLE column, "S" =
    * [[SortKeys.stringKey]] 8-byte prefix of a STRING column (prefix
    * keys are conservative: equal-prefix values collide, so pruning
    * keeps extra files but never skips a match), "N" = the column's
    * NULLNESS DOMAIN from footer null counts — min is 1 only when the
    * file is all-null, max is 1 when it holds any null — so `IS NULL`
    * prunes as the interval [1,1] and `IS NOT NULL` as [0,0] through
    * the same overlap check as every other range. "R" (column
    * `_rows`) = the file's exact row count, min == max — consumed by
    * [[metadataRowCount]] for metadata-only COUNT(*). */
  final case class FileStat(file: String, column: String, min: Long, max: Long,
                            typ: String = "L")
  /** Footer scan of one data file: min/max for every top-level INT64,
    * DOUBLE, and STRING column with complete chunk statistics.
    * Plain-JVM IO (no Spark job) — one footer read per newly committed
    * file, never per row. */
  private def footerStats(base: Path, rel: String): Seq[FileStat] =
    try {
      val rd = Footers.open(base.resolve(rel))
      try {
        val blocks = rd.getFooter.getBlocks.asScala.toSeq
        if (blocks.isEmpty) Seq.empty
        else {
        // exact per-file row count ("R"), the stat that makes a global
        // COUNT(*) a manifest read (metadataRowCount) — at 100 TB the
        // difference between a driver-side sum and a full table scan
        val rows = blocks.map(_.getRowCount).sum
        val rowStat = FileStat(rel, "_rows", rows, rows, "R")
        val ranged = blocks.head.getColumns.asScala
          .filter(_.getPath.size == 1).toSeq
          .flatMap { c =>
            val name = c.getPath.toDotString
            val ptype = c.getPrimitiveType
            val sts = blocks.flatMap(_.getColumns.asScala
              .filter(_.getPath.toDotString == name)).map(_.getStatistics)
            if (sts.isEmpty || sts.exists(s => s == null || s.isEmpty || !s.hasNonNullValue)) None
            else ptype.getPrimitiveTypeName match {
              case PrimitiveTypeName.INT64 =>
                Some(FileStat(rel, name,
                  sts.map(_.genericGetMin.asInstanceOf[java.lang.Long].longValue).min,
                  sts.map(_.genericGetMax.asInstanceOf[java.lang.Long].longValue).max, "L"))
              case PrimitiveTypeName.DOUBLE =>
                val mins = sts.map(_.genericGetMin.asInstanceOf[java.lang.Double].doubleValue)
                val maxs = sts.map(_.genericGetMax.asInstanceOf[java.lang.Double].doubleValue)
                // NaN bounds are meaningless under the parquet spec —
                // better no stat than a wrong skip
                if ((mins ++ maxs).exists(_.isNaN)) None
                else Some(FileStat(rel, name,
                  mins.map(SortKeys.doubleKey).min, maxs.map(SortKeys.doubleKey).max, "D"))
              case PrimitiveTypeName.BINARY
                if ptype.getLogicalTypeAnnotation != null &&
                  ptype.getLogicalTypeAnnotation.isInstanceOf[
                    org.apache.parquet.schema.LogicalTypeAnnotation.StringLogicalTypeAnnotation] =>
                // writer-truncated binary stats stay valid bounds
                // (truncated min is a prefix ≤ min; truncated max is
                // incremented to remain ≥ max), and an 8-byte prefix
                // key of a bound is a bound in key space
                Some(FileStat(rel, name,
                  sts.map(s => SortKeys.bytesKey(
                    s.genericGetMin.asInstanceOf[org.apache.parquet.io.api.Binary].getBytes)).min,
                  sts.map(s => SortKeys.bytesKey(
                    s.genericGetMax.asInstanceOf[org.apache.parquet.io.api.Binary].getBytes)).max, "S"))
              case _ => None
            }
          }
        val nullness = blocks.head.getColumns.asScala
          .filter(_.getPath.size == 1).toSeq
          .flatMap { c =>
            val name = c.getPath.toDotString
            val chunks = blocks.flatMap(_.getColumns.asScala
              .filter(_.getPath.toDotString == name))
            val sts = chunks.map(_.getStatistics)
            if (sts.exists(s => s == null || !s.isNumNullsSet)) None
            else {
              val nulls = sts.map(_.getNumNulls).sum
              val values = chunks.map(_.getValueCount).sum
              if (values == 0) None
              else Some(FileStat(rel, name,
                if (nulls == values) 1L else 0L,
                if (nulls > 0) 1L else 0L, "N"))
            }
          }
        rowStat +: (ranged ++ nullness)
        }
      } finally rd.close()
    } catch { case NonFatal(_) => Seq.empty } // stats are an optimization, never fatal

  /** Stats for a snapshot's file set: carry what a prior snapshot
    * already computed, footer-scan only the new files. */
  private def assembleStats(base: Path, files: Seq[String],
                            prev: Seq[FileStat]): Seq[FileStat] = {
    val fileSet = files.toSet
    val carried = prev.filter(s => fileSet(s.file))
    val known = carried.map(_.file).toSet
    carried ++ files.filterNot(known).sorted.flatMap(f => footerStats(base, f))
  }

  private def isSorted(xs: Array[String]): Boolean = {
    var i = 1
    while (i < xs.length) {
      if (xs(i - 1) > xs(i)) return false
      i += 1
    }
    true
  }

  /** (add, del) = (files ∖ parent, parent ∖ files), both sorted —
    * O(n) two-pointer walk when both inputs are sorted (the write path
    * guarantees it), exact hash-set fallback otherwise. On equality
    * every duplicate of the value is consumed from BOTH sides,
    * matching the set-semantics of the fallback (a path present in the
    * parent suppresses all its copies from `add`, and vice versa). */
  private def sortedDiff(files: Seq[String],
                         pFiles: Seq[String]): (Seq[String], Seq[String]) = {
    val a = files.toArray
    val p = pFiles.toArray
    if (!isSorted(a) || !isSorted(p)) {
      val pSet = pFiles.toSet
      val fSet = files.toSet
      (files.filterNot(pSet).sorted, pFiles.filterNot(fSet).sorted)
    } else {
      val add = Seq.newBuilder[String]
      val del = Seq.newBuilder[String]
      var i = 0
      var j = 0
      while (i < a.length && j < p.length) {
        val c = a(i).compareTo(p(j))
        if (c == 0) {
          val v = a(i)
          while (i < a.length && a(i) == v) i += 1
          while (j < p.length && p(j) == v) j += 1
        } else if (c < 0) { add += a(i); i += 1 }
        else { del += p(j); j += 1 }
      }
      while (i < a.length) { add += a(i); i += 1 }
      while (j < p.length) { del += p(j); j += 1 }
      (add.result(), del.result())
    }
  }

  /** Atomic write of one snapshot version; loses the race loudly.
    * (private[graft]: the conflict spec exercises the collision
    * directly — a live thread race can't be scheduled deterministically.)
    *
    * The version file is a DELTA against `parent` (Delta's add/remove
    * actions): `add`/`del` are the file-set difference, `txnsAdd` and
    * `statsAdd` the new entries only — so commit metadata is O(files
    * changed this commit), never O(table). With parent = None the delta
    * is self-contained (add = the full set), which is also the legacy
    * compatibility story: pre-round-9 manifests carry a full `files`
    * list and read as their own checkpoint. Every
    * [[checkpointInterval]]th version additionally writes a full-state
    * checkpoint so readers replay a bounded tail. `dv` is the active
    * deletion-vector set: every commit path must carry the CURRENT set
    * forward (or the restore target's) — dropping it would silently
    * resurrect rows. */
  private[graft] def writeSnapshot(root: String, prefix: String, version: Int,
                            maxPos: Long, files: Seq[String],
                            removed: Seq[String], op: String = "append",
                            txns: Seq[String] = Seq.empty,
                            stats: Seq[FileStat] = Seq.empty,
                            dv: Seq[String] = Seq.empty,
                            parent: Option[Snapshot] = None,
                            audit: Option[String] = None,
                            publishedFrom: Option[String] = None,
                            column: Option[CommitLog.ColumnChange] = None): Int = {
    // file-set diff: O(n) two-pointer walk over the two SORTED lists
    // (the round-11 probe put the old hash-set diff at seconds per
    // commit on a 10⁶-file table); an unsorted input — possible only
    // through hand-written legacy state — falls back to the set form
    val (add, del) = parent match {
      case None => (files.sorted, Seq.empty[String])
      case Some(p) => sortedDiff(files, p.files)
    }
    val pTxns = parent.map(_.txns.toSet).getOrElse(Set.empty)
    val txnsAdd = txns.filterNot(pTxns)
    // stats diff: carried stats are the PARENT'S OWN objects in every
    // caller (assembleStats filters prev.stats; evolution ops pass
    // prev.stats through), so a reference-identity pass drops them
    // without hashing two strings per entry; the residue — genuinely
    // new stats plus any caller-rebuilt equal values — is value-checked
    // against only the parent stats sharing its (small) file set, which
    // is exactly equivalent to the old full-set filterNot because
    // FileStat equality includes the file.
    val statsAdd = parent match {
      case None => stats
      case Some(p) =>
        val ident = java.util.Collections.newSetFromMap(
          new java.util.IdentityHashMap[FileStat, java.lang.Boolean]())
        p.stats.foreach(ident.add)
        val residue = stats.filterNot(ident.contains)
        if (residue.isEmpty) residue
        else {
          val rf = residue.map(_.file).toSet
          val pv = p.stats.filter(st => rf(st.file)).toSet
          residue.filterNot(pv)
        }
    }
    val entry = CommitLog.Entry(version, CommitLog.Fmt, Some(op), maxPos,
      Some(parent.map(_.version).getOrElse(-1)), add, del, removed, txnsAdd, statsAdd,
      dv, audit, publishedFrom, column)
    Files.createDirectories(logDir(root, prefix))
    try Files.write(versionPath(root, prefix, version), CommitLog.encode(entry),
      StandardOpenOption.CREATE_NEW, StandardOpenOption.WRITE)
    catch {
      case _: java.nio.file.FileAlreadyExistsException =>
        throw new ConcurrentCommitException(version)
    }
    if (version > 0 && version % checkpointInterval == 0)
      writeCheckpoint(root, prefix,
        Snapshot(version, maxPos, files, removed, op, txns, stats, column, dv,
          withEvent(parent.fold(Seq.empty[Int])(_.evs), version, op)))
    version
  }

  /** Full-state checkpoint of one committed version, plus the two
    * cumulative sets: `refsEver`, which keeps [[referencedFiles]]
    * O(checkpoint + tail), and `evs`, the snapshot's schema-event
    * versions, which keeps [[resolveSnapshot]] from walking the ops
    * below it. Idempotent — a racer or replay that finds the file just
    * keeps it. A checkpoint already at this version (garbage, or an
    * abandoned commit's) is never read for it: `refsEver` folds from
    * the versions below, `evs` comes with `snap`. */
  private def writeCheckpoint(root: String, prefix: String, snap: Snapshot,
                              refsOverride: Option[Seq[String]] = None,
                              overwrite: Boolean = false): Unit = {
    val refs = refsOverride.getOrElse(
      (referencedFiles(root, prefix, Some(snap.version - 1)) ++ snap.files).toSeq.sorted)
    val entry = CommitLog.Entry(snap.version, CommitLog.Fmt, Some(snap.op), snap.maxPos,
      removed = snap.removed, dv = snap.dv, column = snap.column,
      files = Some(snap.files), txns = snap.txns, stats = snap.stats,
      refsEver = Some(refs), evs = Some(snap.evs))
    def writeTo(p: Path): Unit = {
      val w = Files.newBufferedWriter(p, java.nio.charset.StandardCharsets.UTF_8,
        StandardOpenOption.CREATE_NEW, StandardOpenOption.WRITE)
      // a mid-write failure (disk full) must not leak a partial file
      // into the log dir. close() itself can throw on the SAME
      // condition (it flushes the buffered remainder), so each cleanup
      // step's failure rides on the original as a suppressed exception
      // — otherwise the delete would be skipped and the original
      // masked. The success-path close is inside the try so a
      // flush-time disk-full also cleans up (a second close on the
      // already-closed writer is a no-op).
      try { CommitLog.write(w, entry); w.close() }
      catch {
        case e: Throwable =>
          try w.close() catch { case NonFatal(c) => e.addSuppressed(c) }
          try Files.deleteIfExists(p) catch { case NonFatal(c) => e.addSuppressed(c) }
          throw e
      }
    }
    val p = ckptPath(root, prefix, snap.version)
    if (overwrite && Files.exists(p)) {
      replaceAtomically(p)(writeTo)
      return
    }
    try writeTo(p)
    catch {
      case _: java.nio.file.FileAlreadyExistsException =>
        // An existing checkpoint for OUR version number is normally a
        // racer's byte-identical write — keep it. Anything else is not
        // trustworthy for this version while our emitted bytes are
        // known-good, so replace atomically: DIFFERENT bytes are stale
        // metadata from an abandoned commit at a reallocated version
        // number (a dropped staged commit whose cleanup crashed
        // mid-way) — even when only txns/stats/refsEver differ, not
        // `files` — and an UNREADABLE/truncated file must be repaired,
        // not kept. (Round-11 advisor: the old IOException-only catch
        // let a corrupt checkpoint whose parse threw another exception
        // type propagate and fail the commit; the files-only
        // comparison trusted abandoned checkpoints that differed
        // elsewhere.) The comparison streams both sides via a temp
        // copy of our bytes — never a table-proportional String.
        val tmp = p.resolveSibling(p.getFileName.toString + ".cmp-" +
          java.util.UUID.randomUUID().toString.take(8))
        writeTo(tmp)
        val stale = try !sameBytes(p, tmp)
          catch { case scala.util.control.NonFatal(_) => true }
        if (stale) moveInto(tmp, p)
        else { Files.deleteIfExists(tmp); () }
    }
  }

  /** Streaming byte-equality of two files — the checkpoint staleness
    * probe at 10⁶ files must not read 283 MiB into one String. */
  private def sameBytes(a: Path, b: Path): Boolean = {
    if (Files.size(a) != Files.size(b)) return false
    val ia = Files.newInputStream(a)
    val ib = Files.newInputStream(b)
    try {
      val ba = new Array[Byte](1 << 16)
      val bb = new Array[Byte](1 << 16)
      var done = false
      while (!done) {
        val na = ia.readNBytes(ba, 0, ba.length)
        val nb = ib.readNBytes(bb, 0, bb.length)
        if (na != nb || !java.util.Arrays.equals(ba, 0, na, bb, 0, nb))
          return false
        done = na == 0
      }
      true
    } finally { ia.close(); ib.close() }
  }

  // Replace `p` with `tmp`, atomically where the filesystem can.
  // Only AtomicMoveNotSupportedException downgrades to a plain
  // REPLACE_EXISTING move, and only a vanished-tmp race is swallowed
  // — any real IO failure (permissions, quota) rethrows, because a
  // checkpoint this code decided is stale/corrupt MUST be repaired,
  // not silently kept while the commit proceeds.
  private def moveInto(tmp: Path, p: Path): Unit = {
    try {
      try {
        Files.move(tmp, p, java.nio.file.StandardCopyOption.ATOMIC_MOVE,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
        ()
      } catch {
        case _: java.nio.file.AtomicMoveNotSupportedException =>
          Files.move(tmp, p, java.nio.file.StandardCopyOption.REPLACE_EXISTING)
          ()
      }
    } catch {
      case _: java.nio.file.NoSuchFileException =>
        // tmp vanished — a concurrent cleanup raced us; the
        // content-keyed parse cache keeps reads safe either way
        Files.deleteIfExists(tmp); ()
      case e: Throwable =>
        Files.deleteIfExists(tmp); throw e
    }
  }

  /** Replace `p` with what `fill` writes to a temp sibling (the parse
    * cache is content-keyed, so readers can never be served the old
    * parse for the new bytes); a failed fill leaks no temp file. */
  private def replaceAtomically(p: Path)(fill: Path => Unit): Unit = {
    val tmp = p.resolveSibling(p.getFileName.toString + ".tmp-" +
      java.util.UUID.randomUUID().toString.take(8))
    try fill(tmp) catch { case e: Throwable => Files.deleteIfExists(tmp); throw e }
    moveInto(tmp, p)
  }

  /** The state one commit attempt writes on top of the head it read —
    * [[writeSnapshot]]'s arguments less the version, parent and op,
    * which [[commitNext]] supplies. */
  private[graft] final case class NextState(maxPos: Long, files: Seq[String],
                                            removed: Seq[String] = Seq.empty,
                                            txns: Seq[String] = Seq.empty,
                                            stats: Seq[FileStat] = Seq.empty,
                                            dv: Seq[String] = Seq.empty,
                                            audit: Option[String] = None,
                                            publishedFrom: Option[String] = None,
                                            column: Option[CommitLog.ColumnChange] = None)

  private[graft] object NextState {
    /** `s`'s whole state, carried unchanged into the next version. */
    def carry(s: Snapshot): NextState =
      NextState(s.maxPos, s.files, txns = s.txns, stats = s.stats, dv = s.dv)
  }

  /** Attempts one commit makes before a lost race surfaces. */
  private[graft] val CommitAttempts = 6

  /** The one optimistic commit path (Delta Lake, VLDB 2020, §3.2):
    * every version the log gains is written here. Each attempt
    *  1. lists the log once: the published head is resolved from that
    *     listing and the version allocated after its last file, so a
    *     racer that lands after the listing collides on CREATE_NEW
    *     instead of being skipped;
    *  2. applies the conflict rule against the head (below);
    *  3. asks `next` for the state to commit on top of the head — a
    *     `Left` returns an existing version and writes nothing (an
    *     already-applied txn, nothing to do);
    *  4. writes that state with `parent = head` through
    *     [[writeSnapshot]].
    * A lost race ([[ConcurrentCommitException]]) re-runs the attempt
    * against the new head, [[CommitAttempts]] attempts in all; then the
    * exception surfaces.
    *
    * Conflict rule: `claimed` are the files the op derived its commit
    * from. A head that no longer pins one of them means a racer
    * rewrote or dropped it ([[RewriteConflictException]]). Rules that
    * need more than the head's file set (a rewrite's deletion-vector
    * check) run first thing in `next`, which may throw the same. */
  private[graft] def commitNext(root: String, prefix: String, op: String,
                                claimed: Set[String] = Set.empty)(
      next: Option[Snapshot] => Either[Int, NextState]): Int = {
    @scala.annotation.tailrec
    def attempt(n: Int): Int = {
      val vs = versions(root, prefix)
      val head = latest(root, prefix, vs)
      val lost = claimed -- head.fold(Set.empty[String])(_.files.toSet)
      if (lost.nonEmpty)
        throw new RewriteConflictException(op, "it removed " + lost.toSeq.sorted.mkString(", "))
      next(head) match {
        case Left(v) => v
        case Right(s) =>
          val won =
            try Some(writeSnapshot(root, prefix, nextVersion(vs), s.maxPos, s.files, s.removed,
              op, s.txns, s.stats, s.dv, head, s.audit, s.publishedFrom, s.column))
            catch {
              case e: ConcurrentCommitException =>
                if (n >= CommitAttempts) throw e else None
            }
          won match {
            case Some(v) => v
            case None => attempt(n + 1)
          }
      }
    }
    attempt(1)
  }

  /** Commit the table's current state as the next version: the head's
    * files plus every data file that appeared since. */
  def commit(root: String, prefix: String, maxPos: Long,
             txn: Option[String] = None): Int =
    commitNext(root, prefix, "append") { prev =>
      // idempotent replays: a transaction id already in the log means
      // this commit's effect is present — no new version
      if (txn.exists(t => prev.exists(_.txns.contains(t)))) Left(prev.get.version)
      else {
        // a commit = the CURRENT snapshot's state + files that appeared
        // since (never-yet-referenced paths). Deriving from the current
        // file set — not from "everything on disk minus everything ever
        // removed" — keeps restore sound: a file removed by an undone
        // delete and re-pinned by the restore stays in the set.
        val newFiles = (listDataFiles(root, prefix).toSet -- referencedFiles(root, prefix))
          // orphaned compaction rewrites (lost race / mid-compact crash)
          // re-pack rows the originals still deliver — adopting them
          // would double those rows
          .filterNot(isCompacted)
        val files = (prev.map(_.files.toSet).getOrElse(Set.empty) ++ newFiles)
          .toSeq.sorted
        Right(NextState(maxPos, files,
          txns = prev.map(_.txns).getOrElse(Seq.empty) ++ txn,
          stats = assembleStats(dataDir(root, prefix), files,
            prev.map(_.stats).getOrElse(Seq.empty)),
          dv = prev.map(_.dv).getOrElse(Seq.empty)))
      }
    }

  // ------------------------- write-audit-publish -------------------------

  /** Commit newly arrived files as a STAGED snapshot (Iceberg's
    * write-audit-publish flow on this log): the version file exists —
    * audit jobs address it by explicit version — but the default read
    * path skips staged heads, so NO reader sees the data until
    * [[publish]]. An audit that fails simply never publishes; the
    * staged files stay referenced (vacuum-safe) but invisible.
    * Idempotent per audit id. At 100 TB the whole flow is metadata:
    * stage, audit and publish never rewrite data files. */
  def commitStaged(root: String, prefix: String, maxPos: Long, audit: String): Int = {
    // the idempotent lookup runs BEFORE the charset require: a staged
    // commit that landed under an earlier, laxer contract (space, '/',
    // '(') must stay re-acknowledgeable — validating first would
    // strand it forever. New stagings still refuse below.
    val seen = versions(root, prefix)
    stagedIn(root, prefix, seen, audit).getOrElse {
      // same charset contract as tag names
      require(audit.nonEmpty && audit.matches("[A-Za-z0-9._:-]+"),
        s"audit id must be non-empty [A-Za-z0-9._:-] (it is embedded " +
          s"in the commit log); got '$audit'")
      commitNext(root, prefix, "staged")(stageNext(root, prefix, maxPos, audit, seen))
    }
  }

  /** One [[commitStaged]] attempt on top of published head `prevPub`.
    * A racing stager of the same audit id lands above `seen`, the
    * listing the idempotent lookup read: its version is returned, so
    * an audit id never stages twice. The delta's built-in parent field
    * (the published head) IS the staged commit's published-parent
    * record: publish resolves the staged delta against it. */
  private[graft] def stageNext(root: String, prefix: String, maxPos: Long, audit: String,
                               seen: Seq[Int])(prevPub: Option[Snapshot]): Either[Int, NextState] =
    stagedIn(root, prefix, versions(root, prefix).filter(_ > seen.lastOption.getOrElse(-1)),
        audit) match {
      case Some(v) => Left(v)
      case None =>
        val newFiles = (listDataFiles(root, prefix).toSet -- referencedFiles(root, prefix))
          .filterNot(isCompacted)
        val files = (prevPub.map(_.files.toSet).getOrElse(Set.empty) ++ newFiles)
          .toSeq.sorted
        Right(NextState(maxPos, files,
          txns = prevPub.map(_.txns).getOrElse(Seq.empty),
          stats = assembleStats(dataDir(root, prefix), files,
            prevPub.map(_.stats).getOrElse(Seq.empty)),
          dv = prevPub.map(_.dv).getOrElse(Seq.empty), audit = Some(audit)))
    }

  /** The staged (not yet published) version carrying this audit id. */
  def stagedVersion(root: String, prefix: String, audit: String): Option[Int] =
    stagedIn(root, prefix, versions(root, prefix), audit)

  /** The newest of versions `vs` staged under this audit id. */
  private def stagedIn(root: String, prefix: String, vs: Seq[Int], audit: String): Option[Int] =
    vs.reverse.find { v =>
      val e = entryOf(root, prefix, v)
      e.opName == "staged" && e.audit.contains(audit)
    }

  /** Publish a staged commit: the next PUBLISHED version adopts the
    * staged snapshot's new files on top of the CURRENT published head
    * (commits that landed between stage and publish are kept — the
    * staged delta, not the staged file set, is what publishes).
    * Idempotent: re-publishing an already-published audit returns the
    * existing publish version. */
  def publish(root: String, prefix: String, audit: String): Int = {
    val sv = stagedVersion(root, prefix, audit).getOrElse(
      sys.error(s"no staged commit for audit '$audit' on $prefix"))
    val seen = versions(root, prefix)
    seen.find(v => publishedFrom(root, prefix, v, sv)).getOrElse {
      val staged = snapshot(root, prefix, Some(sv)).get
      val parentFiles = entryOf(root, prefix, sv).parent
        .filter(_ >= 0)
        .flatMap(pv => snapshot(root, prefix, Some(pv)).map(_.files.toSet))
        .getOrElse(Set.empty)
      val stagedNew = staged.files.toSet -- parentFiles
      commitNext(root, prefix, "publish") { head =>
        // a racing publisher of the same audit lands above `seen`
        versions(root, prefix).filter(_ > seen.lastOption.getOrElse(-1))
          .find(v => publishedFrom(root, prefix, v, sv)) match {
          case Some(v) => Left(v)
          case None =>
            val files = (head.map(_.files.toSet).getOrElse(Set.empty) ++ stagedNew)
              .toSeq.sorted
            Right(NextState(math.max(head.map(_.maxPos).getOrElse(-1L), staged.maxPos), files,
              txns = (head.map(_.txns).getOrElse(Seq.empty) ++ staged.txns).distinct,
              stats = assembleStats(dataDir(root, prefix), files,
                head.map(_.stats).getOrElse(Seq.empty) ++ staged.stats),
              dv = (head.map(_.dv).getOrElse(Seq.empty) ++ staged.dv).distinct,
              publishedFrom = Some(sv.toString)))
        }
      }
    }
  }

  /** Whether version `v` published staged version `sv`. */
  private def publishedFrom(root: String, prefix: String, v: Int, sv: Int): Boolean =
    entryOf(root, prefix, v).publishedFrom.contains(sv.toString)

  /** Drop an ABANDONED staged commit: the audit failed and the batch
    * will never publish. Deletes only the staged MANIFEST — its
    * unique data files become unreferenced, so the next [[vacuum]]'s
    * orphan pass reclaims them (the grace window still applies).
    * Refuses if the audit already published: the publish version
    * references the staged files and the audit trail stays. Like
    * vacuum, this is a single-administrator maintenance op — do not
    * race it against a publisher of the same audit id. */
  def dropStaged(root: String, prefix: String, audit: String): Unit = {
    val sv = stagedVersion(root, prefix, audit).getOrElse(
      sys.error(s"no staged commit for audit '$audit' on $prefix"))
    require(!versions(root, prefix).exists(v => publishedFrom(root, prefix, v, sv)),
      s"audit '$audit' was published; refusing to drop its staged version")
    Files.deleteIfExists(versionPath(root, prefix, sv))
    // the staged commit's CHECKPOINT must die with it: nextVersion
    // reallocates this version number, and a stale full-state
    // checkpoint outranks the new version's manifest in
    // resolveSnapshot — readers would silently resolve the abandoned
    // staged file set instead of the commit that reused the number
    Files.deleteIfExists(ckptPath(root, prefix, sv))
    ()
  }

  // ------------------------------ named refs ------------------------------

  private def refsDir(root: String, prefix: String): Path =
    Paths.get(s"$root/$prefix._refs")

  /** Zero-copy table CLONE (Delta's clone, with history): the target
    * becomes a byte-identical, independently-evolving replica of the
    * source at ZERO data cost — every data file is HARDLINKED (same
    * inode; a cross-device link falls back to a copy), and the
    * metadata (snapshot log, schema-evolution events, tags, deletion
    * vectors, CDC stagings, CHECK constraints) is copied verbatim, so
    * time travel, the change feed, and evolved-schema reads all work
    * on the clone from the first second. Writes after the clone
    * diverge freely: new files land only in the writer's directory,
    * and a vacuum on either side only ever unlinks its OWN directory
    * entries — the shared inodes survive until both sides drop them
    * (the hardlink refcount IS the reference count). At 100 TB this
    * is the dev/test-copy primitive: O(files) metadata work, zero
    * bytes. The target must not exist yet. */
  def cloneTable(srcRoot: String, srcPrefix: String,
                 dstRoot: String, dstPrefix: String): Int = {
    val snap = snapshot(srcRoot, srcPrefix, None).getOrElse(
      sys.error(s"nothing to clone for $srcPrefix"))
    require(snapshot(dstRoot, dstPrefix, None).isEmpty &&
      !Files.isDirectory(dataDir(dstRoot, dstPrefix)),
      s"clone target $dstPrefix@$dstRoot already exists")
    def linkOrCopy(src: Path, dst: Path): Unit = {
      Files.createDirectories(dst.getParent)
      try { Files.createLink(dst, src); () }
      catch { case _: UnsupportedOperationException | _: java.io.IOException =>
        Files.copy(src, dst); () }
    }
    def copyTree(src: Path, dst: Path, link: Boolean): Unit =
      if (Files.isDirectory(src)) Using.resource(Files.walk(src)) { st =>
        st.iterator().asScala.foreach { p =>
          if (Files.isRegularFile(p)) {
            val d = dst.resolve(src.relativize(p).toString)
            if (link) linkOrCopy(p, d)
            else { Files.createDirectories(d.getParent); Files.copy(p, d); () }
          }
        }
      }
    // data files hardlink (the zero-copy part); the metadata dirs are
    // small and mutable (log appends, ref creates) so they are COPIED —
    // sharing their inodes would entangle the two tables' futures
    copyTree(dataDir(srcRoot, srcPrefix), dataDir(dstRoot, dstPrefix), link = true)
    copyTree(logDir(srcRoot, srcPrefix), logDir(dstRoot, dstPrefix), link = false)
    copyTree(refsDir(srcRoot, srcPrefix), refsDir(dstRoot, dstPrefix), link = false)
    copyTree(dvDir(srcRoot, srcPrefix), dvDir(dstRoot, dstPrefix), link = false)
    copyTree(Paths.get(s"$srcRoot/$srcPrefix._cdc"),
      Paths.get(s"$dstRoot/$dstPrefix._cdc"), link = false)
    val cons = constraintsPath(srcRoot, srcPrefix)
    if (Files.isRegularFile(cons)) {
      Files.copy(cons, constraintsPath(dstRoot, dstPrefix)); ()
    }
    snap.version
  }

  private def branchMetaPath(root: String, prefix: String): Path =
    Paths.get(s"$root/$prefix._branch")

  /** Writable BRANCH refs — Iceberg's branch workflow re-expressed
    * over linear logs: a branch is a ZERO-COPY CLONE ([[cloneTable]])
    * that RECORDS ITS FORK POINT, and publishing is [[fastForward]].
    * The write-audit-publish loop at table grain: branch → write and
    * audit on the branch (every write primitive works — it IS a
    * table) → fast-forward to publish; abandoning is dropping the
    * branch. Returns the fork version. */
  def branchTable(srcRoot: String, srcPrefix: String,
                  dstRoot: String, dstPrefix: String): Int = {
    val base = cloneTable(srcRoot, srcPrefix, dstRoot, dstPrefix)
    Files.writeString(branchMetaPath(dstRoot, dstPrefix),
      s"$srcRoot\n$srcPrefix\n$base\n",
      StandardOpenOption.CREATE_NEW, StandardOpenOption.WRITE)
    base
  }

  /** Publish a branch back to its source table by FAST-FORWARD: adopt
    * the branch's commits past the fork, REFUSING if the table itself
    * advanced since (divergent histories need a MERGE INTO, not a
    * publish — Iceberg's fast-forward has the same precondition).
    *
    * Adoption order keeps every intermediate state readable: data
    * files hardlink first (zero-copy — the clone machinery's
    * discipline in reverse), DV/CDC sidecars copy next, and only then
    * do the log entries land one version at a time — a reader never
    * sees a manifest referencing a missing file, and a racing commit
    * collides loudly on the log file's exclusive create. After the
    * publish the branch's fork point advances to the published
    * version, so a long-lived dev branch keeps working:
    * write → publish → write → publish. At 100 TB the cost is
    * O(files touched on the branch), zero data bytes. */
  def fastForward(root: String, prefix: String,
                  brRoot: String, brPrefix: String): Int = {
    val metaP = branchMetaPath(brRoot, brPrefix)
    require(Files.isRegularFile(metaP),
      s"$brPrefix@$brRoot is not a branch (no fork record — use branchTable)")
    val lines = Files.readAllLines(metaP).asScala.toSeq
    val (srcRoot, srcPrefix, base) = (lines(0), lines(1), lines(2).toInt)
    require(Paths.get(srcRoot).toAbsolutePath.normalize ==
        Paths.get(root).toAbsolutePath.normalize && srcPrefix == prefix,
      s"branch $brPrefix forked from $srcPrefix@$srcRoot, not $prefix@$root")
    val cur = snapshot(root, prefix, None).getOrElse(
      sys.error(s"no snapshot for $prefix"))
    // Resumable publish: a previous fast-forward that died between
    // log copies left the table advanced past the recorded fork with
    // commits BYTE-IDENTICAL to the branch's — adopt those as already
    // published and continue, instead of wedging the branch behind a
    // misleading divergence error. Any non-identical commit is a real
    // divergence and refuses as before.
    if (cur.version > base) (base + 1 to cur.version).foreach { v =>
      val tp = versionPath(root, prefix, v)
      val bp = versionPath(brRoot, brPrefix, v)
      require(Files.isRegularFile(tp) && Files.isRegularFile(bp) &&
        java.util.Arrays.equals(Files.readAllBytes(tp), Files.readAllBytes(bp)),
        s"fast-forward refused: $prefix advanced past the fork " +
          s"(v$base → v${cur.version}) — reconcile with MERGE INTO instead")
    }
    val brLatest = snapshot(brRoot, brPrefix, None).getOrElse(
      sys.error(s"no snapshot for branch $brPrefix"))
    if (brLatest.version <= cur.version) {
      // nothing left to publish (possibly a resumed run that already
      // copied everything but died before the fork-record update)
      Files.writeString(metaP, s"$srcRoot\n$srcPrefix\n${cur.version}\n")
      return cur.version
    }
    // a branch vacuumed past the fork can't replay its commits — check
    // the log is contiguous BEFORE adopting anything
    (base + 1 to brLatest.version).foreach { v =>
      require(Files.isRegularFile(versionPath(brRoot, brPrefix, v)),
        s"fast-forward refused: branch $brPrefix is missing commit v$v " +
          "(vacuumed past the fork?)")
    }
    def adopt(src: Path, dst: Path, link: Boolean): Unit =
      if (Files.isDirectory(src)) Using.resource(Files.walk(src)) { st =>
        st.iterator().asScala.foreach { p =>
          if (Files.isRegularFile(p)) {
            val d = dst.resolve(src.relativize(p).toString)
            if (!Files.exists(d)) {
              Files.createDirectories(d.getParent)
              if (link)
                try { Files.createLink(d, p); () }
                catch { case _: UnsupportedOperationException | _: java.io.IOException =>
                  Files.copy(p, d); () }
              else { Files.copy(p, d); () }
            }
          }
        }
      }
    adopt(dataDir(brRoot, brPrefix), dataDir(root, prefix), link = true)
    adopt(dvDir(brRoot, brPrefix), dvDir(root, prefix), link = false)
    adopt(Paths.get(s"$brRoot/$brPrefix._cdc"),
      Paths.get(s"$root/$prefix._cdc"), link = false)
    val brCons = constraintsPath(brRoot, brPrefix)
    if (Files.isRegularFile(brCons)) {
      Files.copy(brCons, constraintsPath(root, prefix),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING); ()
    }
    (cur.version + 1 to brLatest.version).foreach { v =>
      // plain copy without REPLACE: a racing table commit owns the
      // version file and the publish fails loudly instead of clobbering
      Files.copy(versionPath(brRoot, brPrefix, v), versionPath(root, prefix, v))
      // adopt the branch's full-state checkpoint for this version too —
      // it anchors the table's delta-chain resolution and refsEver scan.
      // A pre-existing DIFFERENT checkpoint at this version is an
      // orphan from an abandoned commit whose number the adoption now
      // reuses (a crashed dropStaged) — replace it, don't trust it.
      val bc = ckptPath(brRoot, brPrefix, v)
      if (Files.isRegularFile(bc)) {
        val tc = ckptPath(root, prefix, v)
        if (!Files.exists(tc)) { Files.copy(bc, tc); () }
        else if (!sameBytes(bc, tc)) replaceAtomically(tc)(Files.copy(bc, _))
      }
      // advance the fork record with EVERY adopted version: a crash
      // after this point resumes through the byte-identical tolerance
      // above instead of wedging
      Files.writeString(metaP, s"$srcRoot\n$srcPrefix\n$v\n")
    }
    // the branch and table states are identical again, so the next
    // write→publish cycle just works
    brLatest.version
  }

  /** Create an immutable named tag on a committed version (CREATE_NEW:
    * re-tagging an existing name fails loudly — tags are release
    * markers, not branches, so a reader holding a tag name holds a
    * fixed file set forever). */
  def tag(root: String, prefix: String, name: String, version: Int): Unit = {
    require(snapshot(root, prefix, Some(version)).isDefined,
      s"no snapshot v$version for $prefix")
    require(name.matches("[A-Za-z0-9._-]+"), s"invalid tag name '$name'")
    Files.createDirectories(refsDir(root, prefix))
    Files.writeString(refsDir(root, prefix).resolve(s"$name.ref"),
      version.toString, StandardOpenOption.CREATE_NEW, StandardOpenOption.WRITE)
    ()
  }

  /** Resolve a tag name to its pinned version. */
  def resolveTag(root: String, prefix: String, name: String): Option[Int] = {
    val p = refsDir(root, prefix).resolve(s"$name.ref")
    if (Files.isRegularFile(p)) Some(Files.readString(p).trim.toInt) else None
  }

  /** Read the table as of a named tag (time travel by name). */
  def readTag(spark: SparkSession, root: String, prefix: String,
              name: String): DataFrame =
    read(spark, root, prefix, Some(resolveTag(root, prefix, name).getOrElse(
      sys.error(s"no tag '$name' on $prefix"))))

  /** One resolved version of the log: the handle every read decision
    * of a table load or a scan takes, so they all see the same state.
    * `files` is sorted; `op`, `column` and `removed` describe the commit
    * that wrote this version; `txns`, `stats` and `dv` are cumulative.
    * `evs` are the versions in this snapshot's history that committed
    * a schema event (ascending, this one included if it is one) —
    * [[schemaEvents]] turns them into the events without another walk
    * of the log. A version vacuumed since stays listed here and is
    * skipped there. */
  final case class Snapshot(version: Int, maxPos: Long,
                            files: Seq[String], removed: Seq[String],
                            op: String = "append",
                            txns: Seq[String] = Seq.empty,
                            stats: Seq[FileStat] = Seq.empty,
                            column: Option[CommitLog.ColumnChange] = None,
                            dv: Seq[String] = Seq.empty,
                            evs: Seq[Int] = Seq.empty)

  /** Deletion-vector sidecar directories live OUTSIDE the data dir so
    * directory-listing commits never adopt them as data. */
  private def dvDir(root: String, prefix: String): Path =
    Paths.get(s"$root/$prefix._dv")

  /** The op kind of one version without building the full Snapshot. */
  private def opOf(root: String, prefix: String, v: Int): String =
    entryOf(root, prefix, v).opName

  /** Next unallocated version number after listing `vs` — the version
    * FILE sequence, independent of which snapshot a commit builds on.
    * (A staged commit can sit at the log tail; allocating "published
    * head + 1" would collide with its version file on every retry.)
    * Two racers on the same listing compute the same number, so one
    * loses on CREATE_NEW. */
  private def nextVersion(vs: Seq[Int]): Int =
    vs.lastOption.map(_ + 1).getOrElse(0)

  /** Commit time per version = the manifest file's modification time
    * (Delta's `timestampAsOf` anchor): no format change, and it works
    * for any table that already exists. Metadata-scale — one stat per
    * version, never a data file. */
  def commitTimes(root: String, prefix: String): Seq[(Int, Long)] =
    versions(root, prefix).map(v => v ->
      Files.getLastModifiedTime(versionPath(root, prefix, v)).toMillis)

  /** The highest version committed at or before `tsMillis`; None if
    * the table had no commit yet at that time. Filter (not takeWhile):
    * a copied/restored log whose mtimes are locally out of order still
    * resolves to the newest qualifying version. */
  def resolveTimestamp(root: String, prefix: String, tsMillis: Long): Option[Int] =
    commitTimes(root, prefix).filter(_._2 <= tsMillis).map(_._1).lastOption

  /** The LOWEST version committed at or after `tsMillis` — Delta's CDF
    * `startingTimestamp` contract (the window opens at the first
    * commit the instant could have observed); None when every commit
    * predates it. */
  def resolveTimestampFrom(root: String, prefix: String, tsMillis: Long): Option[Int] =
    commitTimes(root, prefix).filter(_._2 >= tsMillis).map(_._1)
      .sorted.headOption

  /** Load a snapshot (latest PUBLISHED if version is None — staged
    * write-audit-publish commits are invisible to default readers and
    * must be addressed by explicit version). Resolution opens ONE
    * checkpoint (or legacy full manifest) plus the delta tail back to
    * it — bounded by [[checkpointInterval]], never by history. */
  def snapshot(root: String, prefix: String, version: Option[Int] = None): Option[Snapshot] =
    version match {
      case Some(x) =>
        if (versions(root, prefix).contains(x)) Some(resolveSnapshot(root, prefix, x))
        else None
      case None => latest(root, prefix, versions(root, prefix))
    }

  /** The latest published snapshot among the listed versions `vs`. The
    * staged probe decodes entries from the tail down; the published
    * entry it stops at seeds the resolver, so the head file is opened
    * once. */
  private def latest(root: String, prefix: String, vs: Seq[Int]): Option[Snapshot] =
    vs.reverseIterator.map(v => v -> entryOf(root, prefix, v))
      .find(_._2.opName != "staged")
      .map { case (v, e) => resolveSnapshot(root, prefix, v, Some(e)) }

  /** The state an entry spells out itself: a checkpoint's or full
    * manifest's whole state, a delta's header fields. `evs` is left
    * for [[resolveSnapshot]] to fill. */
  private def toSnapshot(e: CommitLog.Entry, ver: Int): Snapshot =
    Snapshot(ver, e.maxPos, e.files.getOrElse(Seq.empty), e.removed, e.opName,
      e.txns, e.stats, e.column, e.dv)

  /** `evs` after version `v`, which committed `op`. */
  private def withEvent(evs: Seq[Int], v: Int, op: String): Seq[Int] =
    if (isSchemaEvent(op)) evs :+ v else evs

  /** Content-addressed parse cache for CHECKPOINT manifests. A
    * checkpoint is the one log file big enough (O(table)) that
    * re-parsing dominates long-history commit loops — the 2000-commit
    * probe showed per-commit latency growing with the newest
    * checkpoint's size. Keyed by (version, content hash): a recreated
    * table at the same path can never be served a stale parse, and
    * the file read itself still happens (and is counted) — only the
    * parse is skipped. Bounded by wholesale clear (access is bursty:
    * one hot checkpoint per table between checkpoint writes).
    *
    * Why clear() can't thrash (r9 advisor target): a table has ONE hot
    * entry at a time (its newest checkpoint's (version, hash) key);
    * the other entries are stale keys from superseded checkpoints that
    * nothing will ever look up again. The clear fires once per 64
    * insertions — i.e. once per ~64 checkpoint WRITES across all
    * tables — and costs each hot table exactly one re-parse. Thrashing
    * would need >64 simultaneously hot checkpoints (>64 tables in one
    * JVM's commit loops), and even then every access degrades to
    * parse-on-read — the pre-cache behavior, never worse. */
  private val ckptParseCache =
    new java.util.concurrent.ConcurrentHashMap[String, CommitLog.Entry]()

  /** Test hook: drop the checkpoint parse cache so the scale probe can
    * time a genuinely COLD parse (the cache is content-keyed, so
    * re-reading the same bytes — even from a copied log — still hits). */
  private[graft] def clearCkptParseCacheForTest(): Unit = ckptParseCache.clear()

  private def readCheckpoint(root: String, prefix: String, ver: Int): CommitLog.Entry = {
    logOpens.incrementAndGet()
    val bytes = Files.readAllBytes(ckptPath(root, prefix, ver))
    val key = ver.toString + ":" + java.util.Base64.getEncoder.encodeToString(
      java.security.MessageDigest.getInstance("MD5").digest(bytes))
    val hit = ckptParseCache.get(key)
    if (hit != null) hit
    else {
      val e = CommitLog.decode(bytes)
      if (ckptParseCache.size > 64) ckptParseCache.clear()
      ckptParseCache.put(key, e)
      e
    }
  }

  /** Resolve one version's full state: its checkpoint if one exists,
    * a legacy full manifest as its own checkpoint, else the parent
    * chain replayed with this version's add/del/txnsAdd/statsAdd
    * delta. A statsAdd entry REPLACES a carried parent entry for the
    * same (file, column, kind) — stats are footer-derived, so the
    * freshest derivation wins. The same walk yields the schema-event
    * versions: the base checkpoint's `evs` plus the schema ops of the
    * tail. A base without `evs` (a legacy full manifest, or a
    * checkpoint written before `evs` existed) takes the versions below
    * it from a walk of their ops. `head` is `ver`'s entry when the
    * caller already decoded it. */
  private def resolveSnapshot(root: String, prefix: String, ver: Int,
                              head: Option[CommitLog.Entry] = None): Snapshot = {
    // ITERATIVE descend + fold (r9 advisor target): on a healthy log
    // the parent chain is bounded by checkpointInterval, but a legacy
    // log written under a huge/misconfigured interval can carry an
    // arbitrarily long un-checkpointed chain — recursing per parent
    // would overflow the stack around ~10k versions. Descend first,
    // collecting delta manifests until a checkpoint / full manifest /
    // root anchors the state, then fold the deltas oldest-first.
    var pending = List.empty[(Int, CommitLog.Entry)] // head = oldest after the loop
    var cur = ver
    var base: Option[Snapshot] = None
    var descending = true
    def anchor(e: CommitLog.Entry): Snapshot =
      toSnapshot(e, cur).copy(evs = e.evs.getOrElse(withEvent(versions(root, prefix)
        .filter(v => v < cur && isSchemaEvent(opOf(root, prefix, v))), cur, e.opName)))
    while (descending) {
      if (Files.isRegularFile(ckptPath(root, prefix, cur))) {
        base = Some(anchor(readCheckpoint(root, prefix, cur))); descending = false
      } else {
        val e = head.filter(_ => cur == ver).getOrElse(entryOf(root, prefix, cur))
        if (e.files.isDefined) {
          base = Some(anchor(e)); descending = false
        } else {
          val pv = e.parent
            .getOrElse(sys.error(s"delta manifest v$cur of $prefix has no parent"))
          pending ::= (cur, e)
          if (pv < 0) { base = None; descending = false }
          else if (Files.isRegularFile(ckptPath(root, prefix, pv)) ||
            Files.isRegularFile(versionPath(root, prefix, pv)))
            cur = pv
          else sys.error(s"log of $prefix truncated: v$cur needs v$pv " +
            "(vacuumed without a checkpoint barrier?)")
        }
      }
    }
    // Fold cost discipline (round-11 probe: at 10⁶ files the tail fold
    // — not the checkpoint parse — dominated a cold open, 9.2 of
    // 13.3 s, from a per-delta 1M-string re-sort plus a per-delta
    // 1M-entry file set rebuilt to re-establish the stats⊆files
    // invariant). The invariant is instead established ONCE on the
    // base (a no-op on healthy logs, where assembleStats guarantees
    // it) and each fold then maintains it with delta-sized lookups
    // only; the file list is kept sorted by an O(n) two-pointer merge
    // (writeSnapshot writes `add` sorted; a legacy out-of-order input
    // degrades to one .sorted, never to wrong output).
    val baseNorm = base.map { b =>
      val fs = b.files.toSet
      if (b.stats.forall(st => fs(st.file))) b
      else b.copy(stats = b.stats.filter(st => fs(st.file)))
    }
    pending.foldLeft(baseNorm) { case (acc, (v, e)) =>
      val add = e.add
      val addSet = add.toSet
      val delSet = e.del.toSet
      val accFiles = acc.map(_.files).getOrElse(Seq.empty)
      val kept = if (delSet.isEmpty) accFiles else accFiles.filterNot(delSet)
      val files = mergeSortedFiles(kept, add)
      // a malformed/hand-written delta can carry statsAdd entries for
      // files absent from the resulting set; appending them would leak
      // the stats⊆files invariant every later fold relies on (advisor
      // round-11 finding). mergeSortedFiles always returns sorted, so
      // the membership probe is O(delta · log n), never an O(table)
      // set rebuild — on healthy logs (statsAdd ⊆ add) nothing drops.
      val statsAddRaw = e.statsAdd
      val statsAdd =
        if (statsAddRaw.isEmpty) statsAddRaw
        else {
          val fi: IndexedSeq[String] = files match {
            case is: IndexedSeq[String] => is
            case other => other.toIndexedSeq
          }
          statsAddRaw.filter(st => addSet(st.file) || sortedContains(fi, st.file))
        }
      val addKeys = statsAdd.map(st => (st.file, st.column, st.typ)).toSet
      // survives ⟺ its file is in the new set: acc stats ⊆ acc files
      // (base-normalized, maintained here), so membership reduces to
      // "not deleted, or re-added" — no O(table) set per delta
      val stats = acc.map(_.stats).getOrElse(Seq.empty)
        .filter(st => (!delSet(st.file) || addSet(st.file)) &&
          !addKeys((st.file, st.column, st.typ))) ++ statsAdd
      val txns = acc.map(_.txns).getOrElse(Seq.empty) ++ e.txnsAdd
      Some(toSnapshot(e, v).copy(files = files, txns = txns, stats = stats,
        evs = withEvent(acc.map(_.evs).getOrElse(Seq.empty), v, e.opName)))
    }.getOrElse(sys.error(s"unresolvable snapshot v$ver of $prefix"))
  }

  /** Binary search over a sorted file list (the [[mergeSortedFiles]]
    * output contract). */
  private def sortedContains(xs: IndexedSeq[String], key: String): Boolean = {
    var lo = 0
    var hi = xs.length - 1
    while (lo <= hi) {
      val mid = (lo + hi) >>> 1
      val c = xs(mid).compareTo(key)
      if (c == 0) return true
      if (c < 0) lo = mid + 1 else hi = mid - 1
    }
    false
  }

  /** O(n) merge of two sorted file lists — equivalent to
    * `(a ++ b).sorted` when both inputs are sorted (the write path
    * guarantees it), with a verify-and-fallback for legacy inputs. */
  private def mergeSortedFiles(a: Seq[String], b: Seq[String]): Seq[String] = {
    // arrays up front: Seq.apply on a List would make the merge O(n²)
    val av = a.toArray
    val bv = b.toArray
    if (bv.isEmpty && isSorted(av)) a
    else if (av.isEmpty && isSorted(bv)) b
    else if (!isSorted(av) || !isSorted(bv)) (a ++ b).sorted
    else {
      val out = new Array[String](av.length + bv.length)
      var i = 0
      var j = 0
      var o = 0
      while (i < av.length && j < bv.length) {
        if (av(i) <= bv(j)) { out(o) = av(i); i += 1 } else { out(o) = bv(j); j += 1 }
        o += 1
      }
      while (i < av.length) { out(o) = av(i); i += 1; o += 1 }
      while (j < bv.length) { out(o) = bv(j); j += 1; o += 1 }
      scala.collection.immutable.ArraySeq.unsafeWrapArray(out)
    }
  }

  /** One schema-evolution event, ordered by commit version. The read
    * path replays these over each file's PHYSICAL schema, so evolution
    * never rewrites data: adds fill, renames re-label, drops hide.
    * Partition columns (recovered from directory names, not footers)
    * are outside this machinery — they cannot be renamed or dropped.
    * `preFiles` (the files pinned when the event committed) define the
    * event's epoch: the read path scans each epoch group separately so
    * physically different schemas never share one parquet scan. */
  sealed trait SchemaEvent { def version: Int; def preFiles: Set[String] }

  /** ADD COLUMN: `name` of type `ddlType` was added at `version`;
    * `preFiles` are the files pinned at that moment — every row in
    * them predates the column and reads as `defaultSql` (NULL when
    * absent). Files added later carry the column physically, so an
    * explicitly-written NULL stays NULL — Iceberg's initial-default
    * semantics, which read-time fill can deliver without rewriting a
    * single old file. */
  final case class AddedColumn(version: Int, name: String, ddlType: String,
                               defaultSql: Option[String],
                               preFiles: Set[String]) extends SchemaEvent {
    def fillExpr: org.apache.spark.sql.Column =
      defaultSql.map(org.apache.spark.sql.functions.expr)
        .getOrElse(org.apache.spark.sql.functions.lit(null))
        .cast(ddlType)
    def nullExpr: org.apache.spark.sql.Column =
      org.apache.spark.sql.functions.lit(null).cast(ddlType)
  }

  /** RENAME COLUMN: rows keep their values; files written before the
    * rename carry `from` physically and are re-labeled at read time,
    * files written after carry `to`. Applying events in version order
    * makes chains (a→b, b→c) and swaps (a→t, b→a, t→b) resolve
    * correctly for every file epoch. */
  final case class RenamedColumn(version: Int, from: String, to: String,
                                 preFiles: Set[String]) extends SchemaEvent

  /** DROP COLUMN: the column disappears from reads at `version`; old
    * files keep the bytes (time travel still sees them) until a
    * rewrite. A later [[addColumn]] of the same name is a NEW column —
    * old values never resurface, because the drop is replayed before
    * the add on every pre-drop file (Iceberg's field-id rule, delivered
    * by event ordering instead of ids). */
  final case class DroppedColumn(version: Int, name: String,
                                 preFiles: Set[String]) extends SchemaEvent

  private def isSchemaEvent(op: String): Boolean =
    op == "addcol" || op == "renamecol" || op == "dropcol"

  /** The schema-evolution events of `snap`'s history, oldest first.
    * Their versions come with the snapshot ([[Snapshot.evs]]), so no
    * walk of the log finds them; each event's `preFiles` are the files
    * of its own version, resolved here (`snap` itself when it is one).
    * A table without events costs nothing; an event version vacuumed
    * since is skipped. */
  def schemaEvents(root: String, prefix: String, snap: Snapshot): Seq[SchemaEvent] =
    snap.evs
      .flatMap(v => if (v == snap.version) Some(snap) else snapshot(root, prefix, Some(v)))
      .flatMap { s =>
        (s.op, s.column) match {
          case ("addcol", Some(CommitLog.ColumnChange(n, Some(t), d, _))) =>
            Seq(AddedColumn(s.version, n, t, d, s.files.toSet))
          case ("renamecol", Some(CommitLog.ColumnChange(f, _, _, Some(t)))) =>
            Seq(RenamedColumn(s.version, f, t, s.files.toSet))
          case ("dropcol", Some(c)) =>
            Seq(DroppedColumn(s.version, c.name, s.files.toSet))
          case _ => Seq.empty
        }
      }

  /** ALTER TABLE … ADD COLUMN (Delta/Iceberg schema evolution): commit
    * a new version declaring `name ddlType`, optionally with a default
    * SQL literal. No data file is touched — the read path fills the
    * default (or NULL) for every file pinned BEFORE this commit, while
    * files written after carry the column physically. Old readers
    * (time travel to an earlier version) see the old schema untouched.
    */
  def addColumn(root: String, prefix: String, name: String, ddlType: String,
                defaultSql: Option[String] = None): Int = {
    require(Seq(name, ddlType).forall(s =>
      s.nonEmpty && !s.contains("|") && !s.contains("\"") && !s.contains("\\")),
      "column name/type must be non-empty without '|', quotes, or backslashes")
    require(defaultSql.forall(d => !d.contains("\"") && !d.contains("\\") && !d.contains("|")),
      "default must be a simple SQL literal (no double quotes, backslashes, or '|')")
    commitNext(root, prefix, "addcol") { head =>
      val prev = evolvable(prefix, head)
      require(!currentColumns(root, prefix).contains(name),
        s"column $name already exists in $prefix")
      Right(NextState.carry(prev).copy(
        column = Some(CommitLog.ColumnChange(name, Some(ddlType), defaultSql))))
    }
  }

  /** The head a schema change commits on top of. */
  private def evolvable(prefix: String, head: Option[Snapshot]): Snapshot =
    head.getOrElse(sys.error(
      s"no snapshot for $prefix — commit data before evolving the schema"))

  /** ALTER TABLE … RENAME COLUMN: a metadata-only commit; no file is
    * touched. Validated against the resolved current schema, so chains
    * compose and collisions fail loudly. Old readers (time travel
    * before this version) keep the old name. Note manifest stats stay
    * keyed by each file's PHYSICAL column name, so pruned reads on the
    * new name keep pre-rename files conservatively (stats narrow IO,
    * never semantics). */
  def renameColumn(root: String, prefix: String, from: String, to: String): Int = {
    require(from != to, "rename requires distinct names")
    require(Seq(from, to).forall(n =>
      n.nonEmpty && !n.contains("|") && !n.contains("\"") && !n.contains("\\")),
      "column names must be non-empty without '|', quotes, or backslashes")
    commitNext(root, prefix, "renamecol") { head =>
      val prev = evolvable(prefix, head)
      val cols = currentColumns(root, prefix)
      require(cols.contains(from), s"cannot rename absent column $from (schema: ${cols.mkString(", ")})")
      require(!cols.contains(to), s"rename target $to already exists in $prefix")
      Right(NextState.carry(prev).copy(column = Some(CommitLog.ColumnChange(from, to = Some(to)))))
    }
  }

  /** ALTER TABLE … DROP COLUMN: metadata-only; the bytes stay until a
    * rewrite, time travel before this version still reads them. */
  def dropColumn(root: String, prefix: String, name: String): Int = {
    require(name.nonEmpty && !name.contains("|") && !name.contains("\"") &&
      !name.contains("\\"),
      "column name must be non-empty without '|', quotes, or backslashes")
    commitNext(root, prefix, "dropcol") { head =>
      val prev = evolvable(prefix, head)
      val cols = currentColumns(root, prefix)
      require(cols.contains(name), s"cannot drop absent column $name (schema: ${cols.mkString(", ")})")
      require(cols.size > 1, s"cannot drop the last column of $prefix")
      Right(NextState.carry(prev).copy(column = Some(CommitLog.ColumnChange(name))))
    }
  }

  /** Top-level column names in one data file's parquet footer. */
  private def physicalColumns(base: Path, rel: String): Seq[String] = {
    val rd = Footers.open(base.resolve(rel))
    try rd.getFooter.getFileMetaData.getSchema.getFields.asScala.map(_.getName).toSeq
    finally rd.close()
  }

  /** The table's resolved logical column names at the latest version:
    * one file's physical schema with every schema event folded on top
    * (presence-guarded, so the answer is identical whichever epoch the
    * sampled file comes from). Partition columns live in directory
    * names, not footers, and are not included. */
  def currentColumns(root: String, prefix: String): Seq[String] = {
    val snap = snapshot(root, prefix, None).getOrElse(
      sys.error(s"no snapshot for $prefix"))
    val base = snap.files.headOption
      .map(f => physicalColumns(dataDir(root, prefix), f))
      .getOrElse(Seq.empty)
    schemaEvents(root, prefix, snap).foldLeft(base) {
      case (cs, a: AddedColumn) => if (cs.contains(a.name)) cs else cs :+ a.name
      case (cs, r: RenamedColumn) => cs.map(c => if (c == r.from) r.to else c)
      case (cs, d: DroppedColumn) => cs.filterNot(_ == d.name)
    }
  }

  /** Schema-aware file read: groups `files` by which added columns
    * they predate, then replays ALL schema events in version order on
    * each group — adds fill (default for pre-epoch files, NULL for
    * post-epoch files a writer left without the column), renames
    * re-label when the old name is physically present, drops hide —
    * and unions by name: one scan per epoch group, no shuffle, so
    * evolution costs nothing at any table size. Replaying in version
    * order is what makes drop-then-readd yield the NEW column's
    * default (never the dropped bytes) and rename chains resolve. */
  private def readFilesFilled(spark: SparkSession, root: String, prefix: String,
                              files: Seq[String],
                              events: Seq[SchemaEvent],
                              dv: Seq[String] = Seq.empty,
                              keepPositions: Boolean = false): DataFrame = {
    val base = dataDir(root, prefix)
    val withMeta = dv.nonEmpty || keepPositions
    def plain(fs: Seq[String]): DataFrame = {
      val scan = readParquet(spark, base, fs)
      if (!withMeta) scan
      else {
        // scheme-normalized file path + in-file row position: the
        // deletion-vector key. row_index is the parquet reader's
        // stable row ordinal, independent of split planning.
        val scheme = "^[a-zA-Z0-9+.-]+:/+"
        val keyed = scan.select(col("*"),
          org.apache.spark.sql.functions.regexp_replace(
            col("_metadata.file_path"), scheme, "/").as(DvPathCol),
          col("_metadata.row_index").as(DvPosCol))
        if (dv.isEmpty) keyed
        else {
          // anti-join against the sidecars: deleted (file, pos) pairs
          // vanish. DVs are metadata-scale next to the table, so the
          // join broadcasts — the scan itself never shuffles.
          val dvRows = readDv(spark, dv.map(dvDir(root, prefix).resolve))
            .select(org.apache.spark.sql.functions.concat(
              org.apache.spark.sql.functions.lit(base.toString + "/"),
              col("file")).as(DvPathCol),
              col("pos").as(DvPosCol))
          keyed.join(org.apache.spark.sql.functions.broadcast(dvRows),
            Seq(DvPathCol, DvPosCol), "left_anti")
        }
      }
    }
    def strip(df: DataFrame): DataFrame =
      if (withMeta && !keepPositions) df.drop(DvPathCol, DvPosCol) else df
    if (files.isEmpty) spark.emptyDataFrame
    else if (events.isEmpty) strip(plain(files))
    else {
      // group by the FULL event epoch vector: files on either side of
      // any schema event have different physical schemas and must not
      // share a parquet scan (the resolved schema would NULL out the
      // other side's columns)
      val groups = files.groupBy(f => events.map(e => e.preFiles.contains(f)))
        .toSeq
        // oldest epoch (predates everything) first — canonical order
        .sortBy { case (k, _) => k.map(b => if (b) '0' else '1').mkString }
      val frames = groups.map { case (predates, fs) =>
        val pre = (events.zip(predates).toMap: Map[SchemaEvent, Boolean])
        events.foldLeft(plain(fs)) {
          case (df, a: AddedColumn) =>
            if (df.columns.contains(a.name)) df
            else df.withColumn(a.name, if (pre(a)) a.fillExpr else a.nullExpr)
          case (df, r: RenamedColumn) =>
            if (df.columns.contains(r.from)) df.withColumnRenamed(r.from, r.to)
            else df
          case (df, d: DroppedColumn) =>
            if (df.columns.contains(d.name)) df.drop(d.name) else df
        }
      }
      strip(frames.reduce(_.unionByName(_)))
    }
  }

  /** Parquet read of table-relative `files` under `base`, planned
    * from that list ([[Footers.relation]]: no path check, no listing
    * job), with the data schema from the footer of the file Spark's
    * inference would pick (the first in path order): no inference job
    * either. Partition columns still come from the directory names.
    * Where the footer gives no schema, Spark's own reader infers it. */
  private[graft] def readParquet(spark: SparkSession, base: Path,
                                 files: Seq[String]): DataFrame = {
    val paths = files.map(base.resolve)
    Footers.dataSchema(spark, base, Paths.get(files.min)) match {
      case Some(schema) => Footers.relation(spark, paths.map(p => (p, Seq(p))), schema,
        Map("basePath" -> base.toString))
      case None => spark.read.option("basePath", base.toString)
        .parquet(paths.map(_.toString): _*)
    }
  }

  /** The rows of deletion-vector sidecar directories, listed on the
    * driver (a sidecar is one directory of parquet parts). */
  private[graft] def readDv(spark: SparkSession, dirs: Seq[Path]): DataFrame =
    Footers.relation(spark, dirs.map(d => (d, Using.resource(Files.list(d))(
      _.iterator.asScala.filterNot(p => Footers.hidden(p.getFileName.toString)).toSeq))),
      org.apache.spark.sql.types.StructType.fromDDL("file STRING, pos BIGINT"))

  /** Maps the file URIs an attribution collect returns to the
    * snapshot's table-relative names, sorted. Keyed by file name, so
    * it costs O(uris + files), not a scan of the file list per URI. */
  private def attribute(snap: Snapshot, uris: Iterable[String]): Seq[String] = {
    def name(p: String) = p.substring(p.lastIndexOf('/') + 1)
    val byName = snap.files.groupBy(name)
    uris.map(uri => byName.getOrElse(name(uri), Nil).find(f => uri.endsWith(f))
      .getOrElse(sys.error(s"unattributable file $uri"))).toSeq.sorted
  }

  /** Column names the DV-keyed read path attaches to carry each row's
    * (file, position) identity; never visible to callers unless they
    * ask for positions. */
  private val DvPathCol = "_graft_dv_path"
  private val DvPosCol = "_graft_dv_pos"

  /** The id [[mergeInto]] gives each source row. */
  private val SrcRowCol = "_graft_srow"

  /** Distinct values of one STRING column collected to the driver
    * without a shuffle: per-partition hash sets, union'd on the driver
    * (guide §2.4 — remove the exchange outright). The file-attribution
    * collects only ever need ≤ O(files) distinct names, so the
    * `distinct()` they used to plan bought nothing but a whole extra
    * exchange + AQE stage job per DML action; driver-side rows stay
    * bounded by partitions × distinct-values — metadata scale. */
  private def distinctCollected(df: DataFrame, column: String): Seq[String] =
    df.select(col(column)).queryExecution.toRdd.mapPartitions { it =>
      val s = scala.collection.mutable.HashSet[String]()
      it.foreach(r => if (!r.isNullAt(0)) s += r.getUTF8String(0).toString)
      s.iterator
    }.collect().distinct.toSeq

  /** One column range in manifest-stat key space: the files whose
    * `typ` stat for `column` overlaps [loKey, hiKey] can match. */
  final case class StatRange(column: String, typ: String, loKey: Long, hiKey: Long)
  object StatRange {
    def longRange(column: String, lo: Long, hi: Long): StatRange =
      StatRange(column, "L", lo, hi)
    def doubleRange(column: String, lo: Double, hi: Double): StatRange =
      StatRange(column, "D", SortKeys.doubleKey(lo), SortKeys.doubleKey(hi))
    /** String bounds map to conservative prefix keys: every string in
      * [lo, hi] has a prefix key in [key(lo), key(hi)] because the
      * prefix map is monotone — overlap checks can keep extra files
      * but never skip a match. */
    def stringRange(column: String, lo: String, hi: String): StatRange =
      StatRange(column, "S", SortKeys.stringKey(lo), SortKeys.stringKey(hi))
    /** `IS NULL` in nullness-domain key space: only files holding at
      * least one null (N-stat max = 1) can match. */
    def isNull(column: String): StatRange = StatRange(column, "N", 1L, 1L)
    /** `IS NOT NULL`: only files holding at least one non-null value
      * (N-stat min = 0) can match — an all-null file is skipped. */
    def isNotNull(column: String): StatRange = StatRange(column, "N", 0L, 0L)
  }

  /** Pushed V1 filters → manifest-stat ranges (conjuncts only; a
    * filter that doesn't map is simply not used for pruning). Strict
    * bounds widen to inclusive — stat overlap is conservative anyway.
    * The one predicate-to-ranges translation: the DSv2 scan feeds it
    * the filters Spark pushed, [[statRanges]] the conjuncts of a
    * resolved condition. */
  def toRanges(f: sources.Filter): Seq[StatRange] = {
    def keyed(v: Any): Option[(Long, String)] = v match {
      case l: Long => Some((l, "L"))
      case i: Int => Some((i.toLong, "L"))
      case s: Short => Some((s.toLong, "L"))
      case d: Double => if (d.isNaN) None else Some((SortKeys.doubleKey(d), "D"))
      case fl: Float => if (fl.isNaN) None else Some((SortKeys.doubleKey(fl.toDouble), "D"))
      case s: String => Some((SortKeys.stringKey(s), "S"))
      case _ => None
    }
    def bound(a: String, v: Any, lower: Boolean, upper: Boolean): Seq[StatRange] =
      keyed(v).map { case (k, t) =>
        StatRange(a, t, if (lower) k else Long.MinValue, if (upper) k else Long.MaxValue)
      }.toSeq
    f match {
      case sources.And(l, r) => toRanges(l) ++ toRanges(r)
      case sources.EqualTo(a, v) => bound(a, v, lower = true, upper = true)
      case sources.GreaterThan(a, v) => bound(a, v, lower = true, upper = false)
      case sources.GreaterThanOrEqual(a, v) => bound(a, v, lower = true, upper = false)
      case sources.LessThan(a, v) => bound(a, v, lower = false, upper = true)
      case sources.LessThanOrEqual(a, v) => bound(a, v, lower = false, upper = true)
      case sources.IsNull(a) => Seq(StatRange.isNull(a))
      case sources.IsNotNull(a) => Seq(StatRange.isNotNull(a))
      case _ => Seq.empty
    }
  }

  /** Stat ranges of a resolved condition: constant sub-expressions
    * fold to literals (the analyzer wraps literals in casts), each
    * top-level conjunct goes through Spark's own filter translation —
    * the one that produces a scan's pushed filters — and then
    * [[toRanges]]. Conjuncts that don't translate just don't prune. */
  private[graft] def statRanges(cond: Expression): Seq[StatRange] = {
    val folded = cond.transformUp {
      case e if e.foldable && !e.isInstanceOf[Literal] =>
        try Literal.create(e.eval(), e.dataType) catch { case NonFatal(_) => e }
    }
    def conjuncts(e: Expression): Seq[Expression] = e match {
      case And(l, r) => conjuncts(l) ++ conjuncts(r)
      case other => Seq(other)
    }
    conjuncts(folded).flatMap(c => GraftStreamingShim.translateFilter(c).toSeq.flatMap(toRanges))
  }

  /** Exact row count of `snap` from MANIFEST METADATA alone — no data
    * file opened. Defined only when it is provably exact: every live
    * file carries an "R" stat (commits since the stat existed) AND no
    * deletion vectors are active (MoR-deleted rows are inside the
    * footer counts, so any DV makes the metadata count an
    * over-estimate). Callers fall back to a scan on None. The scan
    * builder answers a whole multi-aggregate row from one snapshot, so
    * every aggregate in it reflects the SAME version. */
  def metadataRowCount(snap: Snapshot): Option[Long] = {
    if (snap.dv.nonEmpty) None
    else {
      val counts = snap.stats.filter(s => s.typ == "R" && s.column == "_rows")
        .map(s => s.file -> s.min).toMap
      if (snap.files.forall(counts.contains))
        Some(snap.files.map(counts).sum)
      else None
    }
  }

  /** Files whose physical bytes PREDATE a schema event touching
    * `column` (rename/drop/re-add). Manifest stats are keyed by each
    * file's PHYSICAL column name, so on these files a stat named
    * `column` describes a PREVIOUS logical column — e.g. drop `a`
    * then re-add `a` with a default: old footers still carry an "a"
    * stat, but the read path fills the default for every pre-event
    * row. Any consumer of per-column stats must treat stats on these
    * files as ABSENT (pruning keeps the file; exact metadata answers
    * decline). Files written AFTER the event carry the current
    * physical layout, so their stats stay live — the invalidation is
    * file-precise, not column-wide. */
  private def statStaleFiles(events: Seq[SchemaEvent], column: String): Set[String] =
    events.collect {
      case a: AddedColumn if a.name == column => a.preFiles
      case r: RenamedColumn if r.from == column || r.to == column => r.preFiles
      case d: DroppedColumn if d.name == column => d.preFiles
    }.foldLeft(Set.empty[String])(_ ++ _)

  /** Exact (MIN, MAX) of an INT64 column of `snap` from manifest
    * stats — "L" stats store raw values, so file-level bounds ARE the
    * column bounds. Defined only when provably exact: every live file
    * carries an "L" stat for the column (an all-null file has none —
    * decline), no stat is stale under schema evolution
    * ([[statStaleFiles]] — a re-added column's old footer stats
    * describe the wrong logical column), and no deletion vectors are
    * active (a removed row could BE the extremum). Parquet footer
    * min/max ignore nulls, matching SQL MIN/MAX semantics. */
  def metadataLongBounds(root: String, prefix: String, snap: Snapshot,
                         column: String): Option[(Long, Long)] = {
    if (snap.dv.nonEmpty || snap.files.isEmpty) None
    else {
      val st = snap.stats.filter(s => s.typ == "L" && s.column == column)
        .map(s => s.file -> s).toMap
      val stale = statStaleFiles(schemaEvents(root, prefix, snap), column)
      if (snap.files.forall(f => st.contains(f) && !stale.contains(f)))
        Some((snap.files.map(st(_).min).min, snap.files.map(st(_).max).max))
      else None
    }
  }

  /** Backfill footer stats for live files missing a row-count ("R")
    * stat — one footer read per such file (no data rows read, no
    * rewrite), committed as one "restat" version carrying the same
    * file set. Tables committed before row-count stats existed gain
    * the metadata-only COUNT(*)/MIN/MAX and LIMIT-prefix paths
    * without touching their data. No-op (current version) when
    * nothing is missing. */
  def backfillStats(root: String, prefix: String): Int =
    commitNext(root, prefix, "restat") { head =>
      val prev = head.getOrElse(sys.error(s"nothing to backfill for $prefix"))
      val withR = prev.stats.filter(_.typ == "R").map(_.file).toSet
      val missing = prev.files.filterNot(withR)
      if (missing.isEmpty) Left(prev.version)
      else {
        val base = dataDir(root, prefix)
        // refresh the WHOLE stat set of each touched file: pre-"R"
        // manifests may also predate later stat kinds, and mixing stat
        // generations per file would be harder to reason about
        val fresh = missing.flatMap(f => footerStats(base, f))
        val missingSet = missing.toSet // Seq.contains would be O(stats × files)
        val kept = prev.stats.filterNot(s => missingSet.contains(s.file))
        Right(NextState.carry(prev).copy(stats = kept ++ fresh))
      }
    }

  /** Smallest PREFIX of the file list whose "R" row counts cover at
    * least `n` rows — the LIMIT-pushdown file cut (`SELECT ... LIMIT
    * 10` opens one file, not the table). Defined only when provably
    * sufficient: every live file carries an "R" stat and no deletion
    * vectors are active (a DV could empty a file below its recorded
    * count). The caller still applies the limit — this only narrows
    * IO. */
  def limitFiles(snap: Snapshot, n: Long): Option[Seq[String]] =
    if (snap.dv.nonEmpty || n <= 0) None
    else {
      val counts = snap.stats.filter(s => s.typ == "R" && s.column == "_rows")
        .map(s => s.file -> s.min).toMap
      if (!snap.files.forall(counts.contains)) None
      else {
        var acc = 0L
        Some(snap.files.takeWhile { f =>
          val need = acc < n; acc += counts(f); need
        })
      }
    }

  /** The files of `snap` that can satisfy EVERY range in `ranges` at
    * once — the multi-predicate skip a Z-order layout is built for:
    * each range prunes on its own column's stats, and the intersection
    * is the candidate set. Files without a stat for some column stay
    * candidates for that range (conservative); so do files whose stats
    * predate one of `events` touching the column. The ranges on one
    * (column, stat kind) intersect first, so each stat is looked up
    * once however many bounds a predicate puts on its column. */
  private[graft] def prunedFiles(snap: Snapshot, events: Seq[SchemaEvent],
                          ranges: Seq[StatRange]): Seq[String] = {
    val bounds = ranges.groupBy(r => (r.column, r.typ)).toSeq.map { case ((c, t), rs) =>
      val st = snap.stats.filter(s => s.column == c && s.typ == t).map(s => s.file -> s).toMap
      // stats on files that predate a schema event touching the column
      // describe a previous logical column — treat as absent (keep the
      // file; stats narrow IO, never semantics)
      (st, statStaleFiles(events, c), rs.map(_.loKey).max, rs.map(_.hiKey).min)
    }
    snap.files.filter(f => bounds.forall { case (st, stale, lo, hi) =>
      stale.contains(f) || st.get(f).forall(s => s.max >= lo && s.min <= hi)
    })
  }

  /** Predicate-driven pruned read: the filter a caller would hand to
    * `.filter(...)` anyway, analyzed for manifest skipping. Top-level
    * conjuncts Spark translates into filters of the shape `column
    * (=|<|<=|>|>=) literal` (either operand order) or `IS [NOT] NULL`
    * become stat ranges ([[statRanges]]); everything else is ignored
    * for pruning. The FULL predicate is re-applied after the scan, so
    * unrecognized conjuncts cost skipping opportunities, never
    * correctness — the same contract a DSv2 SupportsPushDownFilters
    * source gives the optimizer. */
  def readWhere(spark: SparkSession, root: String, prefix: String,
                predicate: org.apache.spark.sql.Column,
                version: Option[Int] = None): DataFrame = {
    val snap = snapshot(root, prefix, version).getOrElse(
      sys.error(s"no snapshot for $prefix${version.map(" v" + _).getOrElse("")}"))
    val events = schemaEvents(root, prefix, snap)
    val table =
      if (snap.files.isEmpty) spark.emptyDataFrame
      else readFilesFilled(spark, root, prefix, snap.files, events, snap.dv)
    // the ANALYZED filter condition: attributes resolved, literal casts
    // inserted — the same tree a DSv2 pushdown would receive
    val cond = table.filter(predicate).queryExecution.analyzed.collectFirst {
      case f: org.apache.spark.sql.catalyst.plans.logical.Filter => f.condition
    }
    val files = prunedFiles(snap, events, cond.toSeq.flatMap(statRanges))
    if (files.isEmpty) table.filter(predicate).limit(0)
    else if (files.size == snap.files.size) table.filter(predicate)
    else readFilesFilled(spark, root, prefix, files, events, snap.dv).filter(predicate)
  }

  /** A subset `files` of `snap`, read through the full snapshot
    * semantics (schema-evolution replay + deletion-vector anti-join,
    * both of `snap`) — the read primitive the DSv2 scan uses after
    * manifest pruning has already narrowed the file list driver-side. */
  private[graft] def readFileSubset(spark: SparkSession, root: String, prefix: String,
                                    snap: Snapshot, files: Seq[String]): DataFrame =
    readFilesFilled(spark, root, prefix, files, schemaEvents(root, prefix, snap), snap.dv)

  /** The table's resolved schema at `snap`, from ONE representative
    * file per (schema-epoch group × partition directory) —
    * deterministically the lexicographically first — with all events
    * folded. Partition-column TYPES infer from the set of directory
    * names, so one file per directory reproduces full-listing
    * inference exactly, while schema resolution stays O(epochs ×
    * partition dirs), never O(files): resolving a million-file table
    * never constructs a path list over the whole table just to learn
    * its columns. */
  def tableSchema(spark: SparkSession, root: String, prefix: String,
                  snap: Snapshot): org.apache.spark.sql.types.StructType = {
    if (snap.files.isEmpty) new org.apache.spark.sql.types.StructType()
    else {
      val evs = schemaEvents(root, prefix, snap)
      val reps = snap.files.groupBy(f => (evs.map(e => e.preFiles.contains(f)),
          Option(Paths.get(f).getParent).map(_.toString).getOrElse("")))
        .values.map(_.min).toSeq.sorted
      readFilesFilled(spark, root, prefix, reps, evs).schema
    }
  }

  /** Read the table as of a version (default latest): exactly the
    * committed file set, regardless of files appended since. Columns
    * added by [[addColumn]] at or before the version are present for
    * every row — filled with their declared default (or NULL) for
    * files that predate the column. */
  def read(spark: SparkSession, root: String, prefix: String,
           version: Option[Int] = None): DataFrame = {
    val snap = snapshot(root, prefix, version).getOrElse(
      sys.error(s"no snapshot for $prefix${version.map(" v" + _).getOrElse("")}"))
    if (snap.files.isEmpty) spark.emptyDataFrame
    else readFilesFilled(spark, root, prefix, snap.files,
      schemaEvents(root, prefix, snap), snap.dv)
  }

  /** The published commits of a window, each with the files it added
    * over the previous PUBLISHED version — the one version walk the
    * change reads share. Staged (write-audit-publish) versions are
    * invisible to readers, so they are invisible here too: a publish
    * commit's additions are the staged files, surfacing exactly when
    * readers first see them, and an abandoned audit never surfaces.
    * Cost is O(window × checkpointInterval) log reads — the op-probes
    * cover only the window plus the backward find for its first diff
    * base, which stops at the first non-staged version: bounded by the
    * contiguous staged run, never O(history). */
  private def publishedAdditions(root: String, prefix: String, fromExclusive: Int,
                                 toInclusive: Int): Seq[(Snapshot, Seq[String])] = {
    val vs = versions(root, prefix)
    val window = vs.filter(v => v > fromExclusive && v <= toInclusive)
      .filter(v => opOf(root, prefix, v) != "staged")
    var prevPub = vs.filter(_ <= fromExclusive).reverse
      .find(v => opOf(root, prefix, v) != "staged")
      .flatMap(pv => snapshot(root, prefix, Some(pv)).map(_.files.toSet))
      .getOrElse(Set.empty[String])
    window.map { v =>
      val cur = snapshot(root, prefix, Some(v)).get
      val curFiles = cur.files.toSet
      val adds = (curFiles -- prevPub).toSeq.sorted
      prevPub = curFiles
      (cur, adds)
    }
  }

  /** Per-version row additions for a commit window — the
    * change-attribution rule of [[readChanges]]: an append/merge
    * commit's changes are its file additions; compaction, delete and
    * restore commits add no rows (they re-pin or re-pack rows earlier
    * versions already delivered, and deletions are invisible at file
    * grain), so they attribute nothing, which keeps earlier appends'
    * files — not their rewrites — as the change source. Exposed for
    * streaming ADMISSION CONTROL (maxFilesPerTrigger /
    * maxBytesPerTrigger): the scheduler sizes a micro-batch from the
    * window's additions without planning a frame. */
  def additionsInWindow(root: String, prefix: String,
                        fromExclusive: Int, toInclusive: Int): Seq[(Int, Seq[String])] =
    publishedAdditions(root, prefix, fromExclusive, toInclusive).map { case (cur, adds) =>
      (cur.version,
        if (Set("compact", "delete", "deletemor", "restore").contains(cur.op)) Seq.empty
        else adds)
    }

  /** On-disk bytes of one table-relative data file (0 when missing —
    * admission control must not die on a vacuumed straggler). */
  def fileBytes(root: String, prefix: String, rel: String): Long =
    try Files.size(dataDir(root, prefix).resolve(rel))
    catch { case _: java.io.IOException => 0L }

  /** Incremental read (CDC-style): exactly the rows ADDED between
    * `fromVersion` (exclusive) and `toVersion` (inclusive, default
    * latest) — the union of [[additionsInWindow]]'s per-commit
    * additions. Compaction rewrites are excluded (a compacted file only
    * re-packs rows an earlier version already delivered, so it is NOT
    * a change), as are delete and restore commits. A merge's added
    * files also carry the copied-along unmatched rows of the files it
    * rewrote — the manifest records upserts at file grain, not row
    * grain. Consumers that checkpoint the last version they processed
    * get append-only change feeds without rescanning the table. */
  def readChanges(spark: SparkSession, root: String, prefix: String,
                  fromVersion: Int, toVersion: Option[Int] = None): DataFrame = {
    val to = windowEnd(root, prefix, fromVersion, toVersion)
    val added = additionsInWindow(root, prefix, fromVersion, to.version)
      .flatMap(_._2).distinct.sorted
    if (added.isEmpty) {
      // empty frame with the table's schema
      read(spark, root, prefix, Some(to.version)).limit(0)
    } else readFilesFilled(spark, root, prefix, added, schemaEvents(root, prefix, to))
  }

  /** The snapshot that ends a change window (`toVersion`, default the
    * latest published), checked against the log listing together with
    * the window's start. -1 = "before the first commit": v0's changes
    * count too (the stream-source bootstrap case). */
  private def windowEnd(root: String, prefix: String, fromVersion: Int,
                        toVersion: Option[Int]): Snapshot = {
    val vs = versions(root, prefix)
    require(fromVersion == -1 || vs.contains(fromVersion),
      s"no snapshot v$fromVersion for $prefix")
    toVersion match {
      case Some(v) =>
        if (vs.contains(v)) resolveSnapshot(root, prefix, v)
        else sys.error(s"no snapshot v$v for $prefix")
      case None => latest(root, prefix, vs).getOrElse(sys.error(s"no snapshot for $prefix"))
    }
  }

  private def cdcDir(root: String, prefix: String, version: Int): Path =
    Paths.get(s"$root/$prefix._cdc").resolve(f"v$version%05d")

  /** Stage row-grain change records (already carrying `_change_type`)
    * for a rewrite op, then move them into place once the snapshot
    * version is known. Staged under a random name so a racing writer
    * can't collide; the rename happens AFTER the snapshot commit, so a
    * crash in between degrades that one version to file-grain change
    * attribution (readChangeFeed's documented fallback) — it can never
    * misattribute rows. */
  private def writeCdc(root: String, prefix: String,
                       changes: DataFrame)(commit: => Int): Int = {
    val staging = Paths.get(s"$root/$prefix._cdc")
      .resolve("staging-" + java.util.UUID.randomUUID().toString.take(8))
    labeled(changes.sparkSession, s"cdc write $prefix")(
      sizedForWrite(changes).write.mode("overwrite").parquet(staging.toString))
    val v = commit
    Files.move(staging, cdcDir(root, prefix, v))
    v
  }

  /** Row-grain change feed (Delta CDF-style): every row added, updated,
    * or deleted between `fromVersion` (exclusive) and `toVersion`
    * (inclusive), tagged with `_change_type` ∈ {insert,
    * update_preimage, update_postimage, delete} and `_commit_version`.
    * Updates carry BOTH images: the pre-image is what lets a consumer
    * subtract the replaced state (incremental aggregation needs it;
    * replica apply ignores it — post-images outrank it in the
    * last-change window).
    *
    * Sources per commit: appends read their added files (file grain IS
    * row grain for pure additions); merge/delete commits read the CDC
    * records staged at write time — so the copied-along rows of a
    * rewritten file never appear, fixing the file-grain caveat of
    * [[readChanges]]. Compaction/clustering contribute nothing. A
    * rewrite commit missing its CDC directory (pre-round-4 table, or a
    * crash between commit and CDC rename) falls back to file-grain
    * attribution of its added files, tagged `insert`. */
  def readChangeFeed(spark: SparkSession, root: String, prefix: String,
                     fromVersion: Int, toVersion: Option[Int] = None): DataFrame = {
    val to = windowEnd(root, prefix, fromVersion, toVersion)
    // O(epochs) schema resolution, NOT read(...).columns: analyzing a
    // full-table frame path-checks every live file — metadata cost
    // proportional to the table, paid just for a column list (and it
    // would wrongly require files OUTSIDE the window to exist)
    val cols = tableSchema(spark, root, prefix, to).fieldNames.toSeq
    val events = schemaEvents(root, prefix, to)
    def shape(df: DataFrame, v: Int): DataFrame = {
      // rows committed before a column existed (CDC records staged
      // pre-evolution, or an addcol inside the window) read as the
      // column's default; renames/drops replay the same way the table
      // read path replays them over old physical schemas
      val evolved = events.foldLeft(df) {
        case (d, a: AddedColumn) =>
          if (d.columns.contains(a.name)) d
          else d.withColumn(a.name, if (v <= a.version) a.fillExpr else a.nullExpr)
        case (d, r: RenamedColumn) =>
          if (d.columns.contains(r.from)) d.withColumnRenamed(r.from, r.to)
          else d
        case (d, dr: DroppedColumn) =>
          if (d.columns.contains(dr.name)) d.drop(dr.name) else d
      }
      // Delta's CDF contract: _commit_version is LONG and the commit
      // wall-clock rides as _commit_timestamp (the version file's
      // mtime — the same anchor timestamp time travel resolves by)
      val ts = new java.sql.Timestamp(Files.getLastModifiedTime(
        versionPath(root, prefix, v)).toMillis)
      evolved.select((cols.map(col) :+ col("_change_type") :+
        org.apache.spark.sql.functions.lit(v.toLong).as("_commit_version") :+
        org.apache.spark.sql.functions.lit(ts).as("_commit_timestamp")): _*)
    }
    // a staged batch's rows surface as the PUBLISH commit's inserts
    // (the shared walk's staged-version rule)
    val parts = publishedAdditions(root, prefix, fromVersion, to.version)
      .flatMap { case (cur, addedFiles) =>
        val v = cur.version
        def fromFiles(tag: String): Option[DataFrame] =
          if (addedFiles.isEmpty) None
          else Some(shape(readFilesFilled(spark, root, prefix, addedFiles, events)
            .withColumn("_change_type", org.apache.spark.sql.functions.lit(tag)), v))
        cur.op match {
          case "compact" | "restore" => None
          case "append" => fromFiles("insert")
          case _ => // merge/delete: row-grain CDC records, else file-grain fallback
            if (Files.isDirectory(cdcDir(root, prefix, v)))
              Some(shape(spark.read.parquet(cdcDir(root, prefix, v).toString), v))
            else fromFiles("insert")
        }
      }
    if (parts.isEmpty)
      shape(read(spark, root, prefix, Some(to.version))
        .withColumn("_change_type", org.apache.spark.sql.functions.lit("insert")), 0).limit(0)
    else parts.reduce(_.unionByName(_))
  }

  /** RESTORE TABLE … TO VERSION — Delta-style rollback: commits a NEW
    * version whose file set, position watermark, and stats are exactly
    * `toVersion`'s. History is preserved (the undone versions stay
    * time-travel readable until [[vacuum]]); the restore itself is a
    * normal concurrency-checked commit, so it serializes against
    * racing writers (a racing append lands either before the restore —
    * and is undone by it — or after, on top of the restored state; the
    * log stays linear either way). `txns` carry over from the CURRENT
    * version: idempotent-replay dedup tracks what was ever applied,
    * not what the restored state contains.
    *
    * Change-feed contract (file grain, like compaction): a restore
    * adds no NEW rows — every re-pinned file was delivered by the
    * version that first added it — so [[readChanges]] /
    * [[readChangeFeed]] skip restore commits. Consumers needing
    * row-grain restore diffs should diff time-travel reads of the two
    * versions.
    */
  def restore(root: String, prefix: String, toVersion: Int): Int = {
    val target = snapshot(root, prefix, Some(toVersion)).getOrElse(
      sys.error(s"no snapshot v$toVersion for $prefix"))
    // Delta-style RESTORE safety: refuse to pin files vacuum already
    // deleted — otherwise the restore commits fine but the new latest
    // version is unreadable.
    val base = dataDir(root, prefix)
    val missing = target.files.filterNot(f => Files.isRegularFile(base.resolve(f)))
    if (missing.nonEmpty)
      sys.error(s"restore $prefix to v$toVersion: ${missing.size} pinned file(s) " +
        s"no longer on disk (vacuumed?): ${missing.take(3).mkString(", ")}")
    commitNext(root, prefix, "restore") { head =>
      val cur = head.get
      Right(NextState(target.maxPos, target.files,
        (cur.files.toSet -- target.files.toSet).toSeq.sorted, cur.txns, target.stats,
        // the TARGET's dv set, not the current one: a restore past a
        // merge-on-read delete must bring the deleted rows back
        target.dv))
    }
  }

  /** Compact the latest snapshot: per partition directory, rewrite its
    * small files into one, and commit a version that pins the rewritten
    * set and records the originals as superseded. Data is unchanged
    * (same rows, same watermark); old versions stay readable until
    * [[vacuum]]. Returns the committed version.
    *
    * @param partitions optional OPTIMIZE scope: only hive directories
    *   carrying ALL the given `col -> value` pairs are rewritten,
    *   everything else survives untouched — at 100 TB compaction is a
    *   per-partition maintenance task, never a whole-table rewrite.
    * @param targetFileBytes output sizing (Delta OPTIMIZE's ~1 GB
    *   default): a directory rewrites into ceil(bytes/target) files,
    *   so a huge partition never collapses into one monster file; a
    *   directory already at-or-below that file count is left alone. */
  def compact(spark: SparkSession, root: String, prefix: String,
              partitions: Map[String, String] = Map.empty,
              targetFileBytes: Long = 1L << 30): Int = {
    val snap = snapshot(root, prefix, None).getOrElse(
      sys.error(s"nothing to compact for $prefix"))
    val base = dataDir(root, prefix)
    // schema-aware group read: a compaction AFTER an addColumn
    // materializes the evolved schema (defaults filled) into the
    // rewritten files — rewrites always write the CURRENT schema, so
    // a compacted file's rows keep their pre-evolution defaults even
    // though the file itself postdates the column (Delta's rewrite
    // rule)
    val evs = schemaEvents(root, prefix, snap)
    val byDir = snap.files.groupBy(f =>
      Option(Paths.get(f).getParent).map(_.toString).getOrElse(""))
    val keep = Seq.newBuilder[String]
    val superseded = Seq.newBuilder[String]
    byDir.foreach { case (dir, fs) =>
      val dirVals = dir.split("/").filter(_.contains("=")).map { s =>
        val i = s.indexOf('='); s.substring(0, i) -> s.substring(i + 1)
      }.toMap
      val inScope = partitions.forall { case (k, v) => dirVals.get(k).contains(v) }
      val outFiles =
        if (!inScope) Int.MaxValue
        else math.max(1, math.ceil(fs.map(f =>
          Files.size(base.resolve(f))).sum.toDouble / targetFileBytes).toInt)
      if (fs.size <= outFiles) keep ++= fs // out of scope / already at target
      else {
        // DV-filtered: compaction materializes merge-on-read deletions
        // into the rewritten files (their stale dv entries then no-op)
        val df = readFilesFilled(spark, root, prefix, fs, evs, snap.dv)
        // partition values live in the directory name — drop the
        // recovered column before writing back INTO that directory;
        // staged write + markers: until a snapshot pins the rewrites
        // they are UNCOMMITTED and commit() must never adopt them
        // (lost race / crash => duplicated rows)
        val dirCols = dir.split("/").filter(_.contains("=")).map(_.split("=")(0))
        keep ++= writeStaged(root, prefix,
          dirCols.foldLeft(df)((d, c) => d.drop(c)).coalesce(outFiles),
          subDir = dir)
        superseded ++= fs
      }
    }
    val removed = superseded.result()
    if (removed.isEmpty) snap.version // nothing rewritten — no new version
    else commitRewrite(root, prefix, "compact", snap, removed, keep.result(), txn = None)
  }

  /** The commit of a rewriting op (compact, cluster, merge, delete,
    * update, apply): the op read snapshot `read`, derived `added` from
    * the rows of its `gone` files, and commits (head files − `gone`) +
    * `added` through [[commitNext]], recording `gone` as removed.
    *  - The new state is recomputed on the head of every attempt, so a
    *    racing append is kept (append ⋈ rewrite never conflicts
    *    logically — they touch disjoint files).
    *  - A racer that removed any `gone` file is a real conflict:
    *    `added` was derived from pre-race contents. So is a deletion
    *    vector committed or dropped after `read` that may mark a `gone`
    *    file ([[dvMayMark]]): `added` carries the rows as `read` saw
    *    them, and committing would bring back (or keep deleted) rows
    *    that vector changed. The op aborts with
    *    [[RewriteConflictException]] instead of committing. A vector
    *    that marks only files outside `gone` does not conflict.
    *  - The head's deletion vectors carry forward. Entries for files
    *    leaving the set go stale harmlessly (the path join can't match
    *    them again); entries for untouched files keep deleting.
    *  - The watermark never moves below `read`'s; `txn` is recorded.
    * (private[graft]: the conflict spec drives the stale-input case
    * directly — a live thread race can't be scheduled deterministically.) */
  private[graft] def commitRewrite(root: String, prefix: String, op: String,
                                   read: Snapshot, gone: Seq[String],
                                   added: Seq[String], txn: Option[String]): Int = {
    val base = dataDir(root, prefix)
    val goneSet = gone.toSet
    commitNext(root, prefix, op, claimed = goneSet) { head =>
      val cur = head.get
      if (goneSet.nonEmpty) {
        val (had, has) = (read.dv.toSet, cur.dv.toSet)
        ((has -- had) ++ (had -- has)).toSeq.sorted.find(dvMayMark(root, prefix, _, goneSet))
          .foreach { d =>
            throw new RewriteConflictException(op, s"deletion vector $d changed after " +
              s"v${read.version}, which this rewrite read, and may mark a file it rewrote")
          }
      }
      val files = ((cur.files.toSet -- goneSet) ++ added).toSeq.sorted
      Right(NextState(cur.maxPos max read.maxPos, files, gone, cur.txns ++ txn,
        assembleStats(base, files, cur.stats), cur.dv))
    }
  }

  /** Whether deletion vector `name` may mark rows of any of `files`:
    * some row group of its sidecar has `file` bounds (footer min/max,
    * no data read) that cover one of them. Conservative: a row group
    * without complete bounds, or a sidecar that cannot be read, may
    * mark any file. */
  private def dvMayMark(root: String, prefix: String, name: String,
                        files: Set[String]): Boolean = {
    val keys = files.toSeq.map(_.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    def covered(lo: Array[Byte], hi: Array[Byte]) = keys.exists(k =>
      java.util.Arrays.compareUnsigned(lo, k) <= 0 && java.util.Arrays.compareUnsigned(k, hi) <= 0)
    try Using.resource(Files.list(dvDir(root, prefix).resolve(name)))(
        _.iterator.asScala.filterNot(p => Footers.hidden(p.getFileName.toString)).toSeq)
      .exists { part =>
        Using.resource(Footers.open(part))(_.getFooter.getBlocks.asScala.exists { b =>
          b.getRowCount > 0 && b.getColumns.asScala.find(_.getPath.toDotString == "file")
            .map(_.getStatistics).forall { st =>
              st == null || st.isEmpty || !st.hasNonNullValue ||
                covered(st.getMinBytes, st.getMaxBytes)
            }
        })
      }
    catch { case NonFatal(_) => true }
  }

  /** MERGE INTO (copy-on-write upsert): rows of `source` replace
    * target rows with equal `keys` (WHEN MATCHED THEN UPDATE SET *);
    * unmatched source rows are inserted (WHEN NOT MATCHED THEN
    * INSERT *). Only files that actually contain matched keys are
    * rewritten — located by manifest-stats pruning on the first
    * long-typed key, then an exact file-attribution semi join — so a
    * small upsert against a 100 TB table rewrites a handful of files,
    * never the table. Unreferenced readers keep snapshot isolation;
    * `txn` makes replays idempotent (the exactly-once hook for
    * [[upsertStream]]).
    *
    * @return committed version (current version if `txn` already applied)
    */
  def merge(spark: SparkSession, root: String, prefix: String,
            source: DataFrame, keys: Seq[String],
            txn: Option[String] = None): Int = {
    require(keys.nonEmpty, "merge needs at least one key column")
    val snap = snapshot(root, prefix, None).getOrElse(
      sys.error(s"nothing to merge into for $prefix"))
    if (txn.exists(snap.txns.contains)) snap.version
    else {
      enforceConstraints(root, prefix, source)
      val base = dataDir(root, prefix)
      val srcKeys = source.select(keys.map(col): _*).distinct().localCheckpoint(true)
      lazy val evs = schemaEvents(root, prefix, snap)
      // stage 1 — manifest pruning: a file whose stats exclude the
      // source's key range can't contain a match and is never opened
      val candidates = snap.stats.find(s => s.column == keys.head && s.typ == "L") match {
        case Some(_) =>
          val mm = srcKeys.agg(
            org.apache.spark.sql.functions.min(keys.head),
            org.apache.spark.sql.functions.max(keys.head)).head()
          if (mm.isNullAt(0)) Seq.empty
          else prunedFiles(snap, evs, Seq(StatRange.longRange(keys.head, mm.getLong(0), mm.getLong(1))))
        case None => snap.files
      }
      // stage 2 — exact attribution: which candidate files hold a
      // matched key (file names are metadata-scale; rows are not
      // collected)
      val matchedFiles: Seq[String] =
        if (candidates.isEmpty) Seq.empty
        else {
          val withFile = readParquet(spark, base, candidates)
            .withColumn("_graft_file", input_file_name())
          attribute(snap, labeled(spark, "merge attribution")(
            distinctCollected(withFile.join(srcKeys, keys, "left_semi"), "_graft_file")))
        }
      // schema-aware rewrite read: matched files may predate an
      // addColumn — fill defaults so the rewritten files materialize
      // the current schema
      val oldMatched =
        if (matchedFiles.isEmpty) source.limit(0)
        else readFilesFilled(spark, root, prefix, matchedFiles, evs, snap.dv)
      // a using-columns join REORDERS output (keys first) — restore the
      // table's logical order so rewritten files keep the canonical
      // physical layout (mixed per-file orders make multi-file schema
      // sampling nondeterministic)
      val survivors = oldMatched.join(srcKeys, keys, "left_anti")
        .select(oldMatched.columns.map(col): _*)
      val out = survivors.unionByName(source)
      // staged write + marker rename: merge output is invalid until its
      // snapshot commits — commit() must never adopt it from a listing
      val added = writeStaged(root, prefix, out,
        if (out.columns.contains("topic")) Seq("topic") else Seq.empty)
      // row-grain change records: a source row whose key existed is an
      // update post-image, otherwise an insert; the replaced old rows
      // ride along as update pre-images (Delta CDF parity) so a
      // downstream consumer can SUBTRACT the old state — the piece an
      // incremental aggregate/materialized view cannot reconstruct
      // from post-images alone. Cost stays O(changes): keys/rows of
      // the matched files only, never the table.
      val oldKeys = oldMatched.select(keys.map(col): _*).distinct()
        .withColumn("_graft_matched", org.apache.spark.sql.functions.lit(1))
      val preImages = oldMatched.join(srcKeys, keys, "left_semi")
        .withColumn("_change_type",
          org.apache.spark.sql.functions.lit("update_preimage"))
      val cdc = source.join(oldKeys, keys, "left")
        .withColumn("_change_type",
          org.apache.spark.sql.functions.when(col("_graft_matched").isNotNull,
            "update_postimage").otherwise("insert"))
        .drop("_graft_matched")
        .unionByName(preImages)
      writeCdc(root, prefix, cdc) {
        commitRewrite(root, prefix, "merge", snap, matchedFiles, added, txn)
      }
    }
  }

  final class ConstraintViolationException(name: String, rows: Long)
    extends RuntimeException(
      s"CHECK constraint '$name' violated by $rows incoming row(s) — commit refused")

  private def constraintsPath(root: String, prefix: String): Path =
    Paths.get(s"$root/$prefix.constraints.json")

  /** Register a Delta-style CHECK constraint: a SQL predicate every
    * incoming row must satisfy. Enforced on [[merge]] (and therefore
    * [[upsertStream]]) source rows BEFORE any file is written — a
    * violating batch refuses the commit and leaves the table untouched. */
  def setConstraint(root: String, prefix: String, name: String,
                    predicate: String): Unit = {
    require(!name.contains("|") && !predicate.contains("\n"),
      "constraint name/predicate must be single-line, name without '|'")
    val existing = constraints(root, prefix).filterNot(_._1 == name)
    val lines = (existing :+ (name, predicate))
      .map { case (n, p) => s"$n|$p" }.mkString("\n")
    Files.writeString(constraintsPath(root, prefix), lines)
    ()
  }

  /** Registered (name, predicate) constraints for a table. */
  def constraints(root: String, prefix: String): Seq[(String, String)] = {
    val p = constraintsPath(root, prefix)
    if (!Files.exists(p)) Seq.empty
    else Files.readString(p).split("\n").toSeq.filter(_.nonEmpty).map { l =>
      val i = l.indexOf('|')
      (l.substring(0, i), l.substring(i + 1))
    }
  }

  /** Throw if any `df` row violates a registered constraint. */
  private def enforceConstraints(root: String, prefix: String,
                                 df: DataFrame): Unit =
    constraints(root, prefix).foreach { case (name, pred) =>
      val bad = labeled(df.sparkSession, s"constraint $name")(df.filter(s"NOT ($pred)").count())
      if (bad > 0) throw new ConstraintViolationException(name, bad)
    }

  /** Audit the CURRENT table state against all registered constraints:
    * (constraint, violating-row count) — 0 everywhere on a healthy
    * table. (Write-path enforcement covers merge/upsert; this covers
    * data that arrived through raw appends.) */
  def validate(spark: SparkSession, root: String,
               prefix: String): Seq[(String, Long)] = {
    val t = read(spark, root, prefix)
    constraints(root, prefix).map { case (name, pred) =>
      (name, t.filter(s"NOT ($pred)").count())
    }
  }

  /** DELETE (copy-on-write): rows matching `predicate` disappear from
    * the next snapshot. Only files that actually contain matching rows
    * are rewritten (located by an `input_file_name` scan under the
    * predicate — at scale, push a stats-prunable range predicate);
    * untouched files survive as-is, older versions keep reading the
    * deleted rows (snapshot isolation until vacuum). */
  def delete(spark: SparkSession, root: String, prefix: String,
             predicate: org.apache.spark.sql.Column,
             txn: Option[String] = None): Int = {
    val snap = snapshot(root, prefix, None).getOrElse(
      sys.error(s"nothing to delete from for $prefix"))
    if (txn.exists(snap.txns.contains)) snap.version
    else {
      // SQL DELETE semantics: a row is deleted only when the predicate
      // is TRUE — a NULL predicate keeps the row (like Delta). Coalesce
      // to false so attribution and survivorship agree on null rows.
      val matches = org.apache.spark.sql.functions.coalesce(
        predicate, org.apache.spark.sql.functions.lit(false))
      // schema-aware: the delete predicate may reference an added
      // column (matching its default on pre-evolution rows)
      val evs = schemaEvents(root, prefix, snap)
      // position-keyed read, not input_file_name(): with deletion
      // vectors active the plan holds two file sources and
      // input_file_name() refuses to bind
      val withFile = readFilesFilled(spark, root, prefix, snap.files, evs,
        snap.dv, keepPositions = true)
      val matchedFiles = attribute(snap, withFile.filter(matches)
        .select(DvPathCol).distinct()
        .collect().map(_.getString(0)))
      if (matchedFiles.isEmpty) snap.version // nothing to delete
      else {
        // filled read, not a plain one: survivors of a pre-evolution
        // file must materialize their filled defaults into the rewrite
        // (a plain read would write the old physical schema, and the
        // rewritten file — which postdates the addcol — would NULL-fill
        // where the default belonged); CDC pre-images below need the
        // same shape
        val touched = readFilesFilled(spark, root, prefix, matchedFiles, evs, snap.dv)
        val survivors = touched.filter(!matches)
        val added = writeStaged(root, prefix, survivors,
          if (survivors.columns.contains("topic")) Seq("topic") else Seq.empty)
        // row-grain change records: the deleted rows' pre-images
        val cdc = touched.filter(matches)
          .withColumn("_change_type", org.apache.spark.sql.functions.lit("delete"))
        writeCdc(root, prefix, cdc) {
          commitRewrite(root, prefix, "delete", snap, matchedFiles, added, txn)
        }
      }
    }
  }

  /** `c` rebound onto `frame`, the output of the read a DML primitive
    * evaluates it on. The SQL DML rule ([[graft.sources.GraftDml]])
    * hands over the analyzer's resolved expressions, whose attributes
    * belong to the catalog relation (and, for MERGE, the source plan),
    * while the primitive re-reads the files into a frame with fresh
    * attributes. Every attribute of `c` that `frame` does not produce
    * (by exprId) is replaced by the frame attribute of the same name:
    * at top level, and as an outer reference inside any subquery plan.
    * A column a subquery reads from its own plan, or that a nested
    * subquery takes from its enclosing subquery, is not in that set,
    * so a name it shares with a table column never captures it.
    * Columns built by name (`col`, `expr`) are left to the analyzer. */
  private[graft] def rebound(frame: Seq[Attribute])(c: Column): Column = {
    val e = ColumnConversions.expression(c)
    val stale = if (e.resolved) e.references -- frame else AttributeSet.empty
    if (stale.isEmpty) c
    else {
      val byName = frame.map(a => a.name -> a).toMap
      GraftStreamingShim.column(replaceAttributes(e, stale, a => byName.getOrElse(a.name,
        throw new IllegalStateException(s"column ${a.name} is not in the re-read frame"))))
    }
  }

  /** Rows of the files in `uris`, by their `DvPathCol` key. Catalyst's
    * `InSet` holds the set as a reference object, so the plan and the
    * generated class are the same for any number of files; `isin`
    * plans one literal per file, and below `OptimizeIn`'s threshold
    * every distinct file count compiles a class of its own. The set is
    * a `HashSet` at every size: the generated code casts to the set's
    * runtime class, and `toSet` picks `Set1`…`Set4` for small sets. */
  private def inFiles(uris: Seq[String]): Column =
    GraftStreamingShim.column(InSet(ColumnConversions.expression(col(DvPathCol)),
      scala.collection.immutable.HashSet.from[Any](uris.map(UTF8String.fromString))))

  /** `e` with every attribute in `these` replaced by `to(a)`: at top
    * level, and as an outer reference inside any subquery plan. */
  private[graft] def replaceAttributes(e: Expression, these: AttributeSet,
                                       to: Attribute => Attribute): Expression =
    e.transform {
      case a: AttributeReference if these.contains(a) => to(a)
      case s: SubqueryExpression =>
        s.withNewPlan(s.plan.transformAllExpressionsWithSubqueries {
          case OuterReference(a: Attribute) if these.contains(a) => OuterReference(to(a))
        })
    }

  /** UPDATE (copy-on-write): rows matching `predicate` get `sets`
    * applied; everything else survives byte-identical. Only files that
    * actually contain matching rows are rewritten (same attribution as
    * [[delete]]); at 100 TB a selective update touches a handful of
    * files, never the table. Semantics follow SQL UPDATE:
    *  - a NULL predicate keeps the row untouched (like [[delete]]'s
    *    NULL-keeps rule, mirrored);
    *  - assignments are SIMULTANEOUS — every SET value is evaluated
    *    against the OLD row (`SET a = b, b = a` swaps), which is why
    *    all assignments ride ONE select over the pre-image;
    *  - assigned values are cast to the column's declared type.
    * CHECK constraints are enforced on the POST-image of matched rows
    * before any commit; updates ride the change feed as
    * update_preimage/update_postimage pairs (Delta CDF parity).
    *
    * The predicate and SET values may carry attributes resolved
    * against another read of the table ([[rebound]]).
    *
    * @param ranges advisory manifest-prunable bounds extracted from
    *   the predicate's conjuncts (the DML rule supplies them): the
    *   attribution read opens only files whose stats can overlap EVERY
    *   range — a selective UPDATE against a 100 TB table reads a
    *   handful of candidate files, never the table. Advisory only:
    *   the exact predicate still decides row membership. */
  def updateWhere(spark: SparkSession, root: String, prefix: String,
                  predicate: org.apache.spark.sql.Column,
                  sets: Seq[(String, org.apache.spark.sql.Column)],
                  txn: Option[String] = None,
                  ranges: Seq[StatRange] = Seq.empty): Int = {
    require(sets.nonEmpty, "UPDATE needs at least one assignment")
    val snap = snapshot(root, prefix, None).getOrElse(
      sys.error(s"nothing to update for $prefix"))
    if (txn.exists(snap.txns.contains)) snap.version
    else {
      val evs = schemaEvents(root, prefix, snap)
      val candidates = prunedFiles(snap, evs, ranges)
      if (candidates.isEmpty) return snap.version // stats exclude every file
      val withFile = readFilesFilled(spark, root, prefix, candidates, evs,
        snap.dv, keepPositions = true)
      val bind = rebound(withFile.queryExecution.analyzed.output) _
      val matches = org.apache.spark.sql.functions.coalesce(
        bind(predicate), org.apache.spark.sql.functions.lit(false))
      val hit = "_graft_hit"
      val setMap = sets.toMap.view.mapValues(bind).toMap
      def newCol(c: String) = s"_graft_new_$c"
      // One pass over the candidate files evaluates the predicate and
      // every SET value (pre- and post-image columns side by side, plus
      // the row's file identity) into a materialized frame; attribution
      // is an observed metric of the same job, and the rewrite output
      // and both CDC images are column selections over that frame —
      // nothing downstream re-plans joins or subqueries (MERGE's
      // shape). Assignments stay simultaneous: every SET value is
      // evaluated against the pre-image row.
      val dataCols = withFile.columns
        .filterNot(c => c == DvPathCol || c == DvPosCol).toSeq
      require(setMap.keySet.subsetOf(dataCols.toSet),
        s"UPDATE of unknown column(s): ${(setMap.keySet -- dataCols).mkString(", ")}")
      val assigned = dataCols.filter(setMap.contains)
      val filesMetric = "graft_update_files"
      val observed = withFile.withColumn(hit, matches)
        .select(dataCols.map(col) ++ Seq(col(DvPathCol), col(hit)) ++
          assigned.map(c => org.apache.spark.sql.functions
            .when(col(hit), setMap(c).cast(withFile.schema(c).dataType))
            .otherwise(col(c)).as(newCol(c))): _*)
        .observe(filesMetric, org.apache.spark.sql.functions.collect_set(
          org.apache.spark.sql.functions.when(col(hit), col(DvPathCol))))
      val combined = labeled(spark, "update rewrite")(observed.localCheckpoint(true))
      val matchedUris = observedMetric(observed, filesMetric).getSeq[String](0).sorted
      val matchedFiles = attribute(snap, matchedUris)
      if (matchedFiles.isEmpty) {
        // a no-op commits nothing, so confirm it on the frame itself
        if (!labeled(spark, "update no-match check")(combined.filter(col(hit)).isEmpty))
          throw new IllegalStateException(
            "UPDATE: the observed matched-file set is empty but the rewrite frame has hits")
        snap.version
      } else {
        val rows = combined.filter(inFiles(matchedUris))
        val out = rows.select(dataCols.map { c =>
          if (setMap.contains(c)) col(newCol(c)).as(c) else col(c)
        }: _*)
        val post = rows.filter(col(hit)).select(dataCols.map { c =>
          if (setMap.contains(c)) col(newCol(c)).as(c) else col(c)
        }: _*)
        enforceConstraints(root, prefix, post)
        val added = writeStaged(root, prefix, out,
          if (dataCols.contains("topic")) Seq("topic") else Seq.empty)
        val pre = rows.filter(col(hit)).select(dataCols.map(col): _*)
        val cdc = pre
          .withColumn("_change_type",
            org.apache.spark.sql.functions.lit("update_preimage"))
          .unionByName(post
            .withColumn("_change_type",
              org.apache.spark.sql.functions.lit("update_postimage")))
        writeCdc(root, prefix, cdc) {
          commitRewrite(root, prefix, "update", snap, matchedFiles, added, txn)
        }
      }
    }
  }

  /** One SQL MERGE clause. `condition` is a predicate over the joined
    * row — target columns by their own names, source columns under the
    * `_graft_src_` prefix ([[SrcColPrefix]]); None = always fires.
    * `set` maps target columns to value columns (same namespace); None
    * means DELETE, for INSERT clauses unassigned target columns become
    * NULL. Columns may carry resolved attributes of another plan with
    * those names ([[rebound]]). Clauses fire FIRST-WINS in declaration
    * order (the SQL standard's rule). */
  final case class MergeClause(condition: Option[Column],
                               set: Option[Seq[(String, Column)]])

  /** Source-column namespace inside [[MergeClause]] columns. */
  val SrcColPrefix = "_graft_src_"

  /** SQL MERGE's cardinality rule: a target row matched by more than
    * one source row has no well-defined update/delete outcome. */
  final class MergeCardinalityException(rows: Long)
    extends RuntimeException(
      s"MERGE: $rows target row(s) matched by more than one source row " +
        "— the SQL standard leaves their outcome undefined; " +
        "deduplicate the source on the merge keys")

  /** SQL `MERGE INTO` (copy-on-write) — the full three-clause surface:
    * WHEN MATCHED [AND cond] THEN UPDATE SET …/DELETE, WHEN NOT MATCHED
    * [AND cond] THEN INSERT …, WHEN NOT MATCHED BY SOURCE [AND cond]
    * THEN UPDATE/DELETE. Unlike the keyed [[merge]] (upsert-by-key, the
    * streaming path), this executes arbitrary resolved clause
    * conditions and assignment expressions — the generality SQL needs.
    *
    * One classification pass, Delta's MergeIntoCommand shape:
    *  1. the source is materialized once, each row with an id; the
    *     pruning key's [min, max] is an observed metric of that job;
    *  2. the candidate target rows full-outer-join the source once, and
    *     every joined row is tagged with its fired clause (first-wins
    *     inside its family: pair, target-only or source-only);
    *  3. an unordered window keyed by the target row id counts each
    *     target row's firing rows (source-only rows key by their own
    *     id, so inserts spread over tasks);
    *  4. that frame is materialized once, and the matched files, the
    *     cardinality violations and the firing inserts are observed
    *     metrics of the same job.
    * Survivors, updates, inserts, the staged write and the change feed
    * are then selections over the materialized frame. Only files
    * holding a matched row are rewritten; WHEN NOT MATCHED BY SOURCE
    * must see every target row, so it widens the rewrite to all files —
    * exactly Delta's behavior. Cardinality is enforced before any write
    * ([[MergeCardinalityException]]); CHECK constraints run on the
    * post-images; all changes ride the feed (insert /
    * update_preimage+postimage / delete).
    *
    * @param equiKeys equi conjuncts of the merge condition as
    *   (targetCol, sourceCol-in-the-src-namespace) pairs, extracted by
    *   the DML rule from the RESOLVED condition. Used for stage-1
    *   manifest pruning: if a target column carries INT64 stats, files
    *   outside the source's [min, max] on that key can't hold a match
    *   and are never opened — the keyed [[merge]]'s discipline, so a
    *   small SQL MERGE against a 100 TB table attributes against a
    *   handful of candidate files instead of scanning the table. */
  def mergeInto(spark: SparkSession, root: String, prefix: String,
                source: DataFrame, condition: Column,
                matched: Seq[MergeClause], notMatched: Seq[MergeClause],
                notMatchedBySource: Seq[MergeClause],
                tableSchema: org.apache.spark.sql.types.StructType,
                txn: Option[String] = None,
                equiKeys: Seq[(String, String)] = Seq.empty): Int = {
    import org.apache.spark.sql.functions.{collect_set, count, lit, max, min,
      monotonically_increasing_id, when}
    require(matched.nonEmpty || notMatched.nonEmpty || notMatchedBySource.nonEmpty,
      "MERGE needs at least one WHEN clause")
    require(notMatched.forall(_.set.isDefined),
      "WHEN NOT MATCHED supports only INSERT")
    val snap = snapshot(root, prefix, None).getOrElse(
      sys.error(s"nothing to merge into for $prefix"))
    if (txn.exists(snap.txns.contains)) snap.version
    else {
      val evs = schemaEvents(root, prefix, snap)
      val badSrc = source.columns.filterNot(_.startsWith(SrcColPrefix))
      require(badSrc.isEmpty,
        s"merge source columns must carry $SrcColPrefix: ${badSrc.mkString(", ")}")
      // stage-1 manifest pruning (the keyed merge's discipline): the
      // first equi key whose target column carries INT64 stats bounds
      // the candidate set by the source's [min, max] — files outside it
      // can't match and are never opened
      def integral(c: String): Boolean =
        source.schema.find(_.name == c).exists(f => f.dataType match {
          case org.apache.spark.sql.types.LongType |
               org.apache.spark.sql.types.IntegerType |
               org.apache.spark.sql.types.ShortType => true
          case _ => false
        })
      val pruneKey =
        if (notMatchedBySource.nonEmpty) None
        else equiKeys.find { case (tc, sc) =>
          integral(sc) && snap.stats.exists(s => s.column == tc && s.typ == "L") }
      val srcMetric = "graft_merge_source"
      val srcIds = source.withColumn(SrcRowCol, monotonically_increasing_id())
      val srcObserved = pruneKey.fold(srcIds) { case (_, sc) =>
        srcIds.observe(srcMetric, min(col(sc).cast("long")), max(col(sc).cast("long")))
      }
      val src = labeled(spark, "merge source")(srcObserved.localCheckpoint(true))
      val candidates: Seq[String] =
        if (snap.files.isEmpty) Seq.empty
        else pruneKey.fold(snap.files) { case (tc, _) =>
          val mm = observedMetric(srcObserved, srcMetric)
          if (mm.isNullAt(0)) Seq.empty
          else prunedFiles(snap, evs, Seq(StatRange.longRange(tc, mm.getLong(0), mm.getLong(1))))
        }
      // a SCHEMA-TYPED empty target (readFilesFilled on zero files is
      // column-less, which would fail the condition's resolution) —
      // MERGE into a fresh CREATE TABLE is pure insert and must work
      val target =
        if (candidates.isEmpty) spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          org.apache.spark.sql.types.StructType(tableSchema.fields ++ Seq(
            org.apache.spark.sql.types.StructField(DvPathCol,
              org.apache.spark.sql.types.StringType),
            org.apache.spark.sql.types.StructField(DvPosCol,
              org.apache.spark.sql.types.LongType))))
        else readFilesFilled(spark, root, prefix, candidates, evs,
          snap.dv, keepPositions = true)
      val tSchema = org.apache.spark.sql.types.StructType(
        target.schema.filterNot(f => f.name == DvPathCol || f.name == DvPosCol))
      val tCols = tSchema.fieldNames.toSeq
      // the join and every frame below keep these attributes
      val bind = rebound(target.queryExecution.analyzed.output ++
        src.queryExecution.analyzed.output) _
      // one index space for every clause: matched, then not matched by
      // source, then not matched; 0 = none fired
      val clauses = matched ++ notMatchedBySource ++ notMatched
      def fired(family: Seq[MergeClause], offset: Int): org.apache.spark.sql.Column =
        family.zipWithIndex.foldRight(lit(0)) { case ((cl, i), rest) =>
          when(cl.condition.map(bind).getOrElse(lit(true)), lit(offset + i + 1))
            .otherwise(rest)
        }
      val deletes = clauses.zipWithIndex.collect { case (c, i) if c.set.isEmpty =>
        Integer.valueOf(i + 1) }
      val act = "_graft_act"
      val nFired = "_graft_fired"
      val firstSrc = "_graft_first_src"
      val inTarget = col(DvPathCol).isNotNull
      val pair = inTarget && col(SrcRowCol).isNotNull
      // one target row's pairs share a window partition; unordered, so
      // each aggregate spans the whole partition (an ordered window
      // would make the count a running sum). Both aggregates sit in one
      // select, so they share one Window node and one exchange.
      val targetRow = org.apache.spark.sql.expressions.Window.partitionBy(
        col(DvPathCol), col(DvPosCol), when(!inTarget, col(SrcRowCol)))
      val tagged = target.join(src, bind(condition), "full_outer")
        .withColumn(act, when(pair, fired(matched, 0))
          .when(inTarget, fired(notMatchedBySource, matched.size))
          .otherwise(fired(notMatched, matched.size + notMatchedBySource.size)))
        .select(col("*"),
          count(when(inTarget && col(act) =!= 0, 1)).over(targetRow).as(nFired),
          min(col(SrcRowCol)).over(targetRow).as(firstSrc))
      // one row per target row: its pair with the smallest source id
      val firstOfRow = col(SrcRowCol).isNull || col(SrcRowCol) === col(firstSrc)
      val metric = "graft_merge"
      val observed = tagged.observe(metric,
        collect_set(when(pair, col(DvPathCol))),
        // SQL's cardinality rule, modification-scoped like Delta's: >1
        // FIRING pair for one target row is ambiguous; unfired extra
        // matches are harmless
        count(when(pair && col(nFired) > 1 && firstOfRow, 1)),
        count(when(!inTarget && col(act) =!= 0, 1)))
      val classified = labeled(spark, "merge classify")(observed.localCheckpoint(true))
      val m = observedMetric(observed, metric)
      if (m.getLong(1) > 0) throw new MergeCardinalityException(m.getLong(1))
      val matchedUris = m.getSeq[String](0)
      val matchedFiles =
        if (notMatchedBySource.nonEmpty) snap.files else attribute(snap, matchedUris)
      if (matchedFiles.isEmpty && m.getLong(2) == 0) snap.version
      else {
        // the rows of the rewritten files, plus the source-only rows
        val rows = classified.filter(!inTarget ||
          (if (notMatchedBySource.nonEmpty) lit(true) else inFiles(matchedUris)))
        val survivor = inTarget && col(nFired) === 0 && firstOfRow
        val changed = col(act) =!= 0 && !col(act).isin(deletes: _*)
        def pre(df: DataFrame): DataFrame = df.select(tCols.map(col): _*)
        // SET application on the fired index; a source-only row's target
        // columns are NULL, the unassigned base an INSERT needs
        def post(df: DataFrame): DataFrame = df.select(tCols.map { c =>
          clauses.zipWithIndex.foldLeft(col(c)) { case (acc, (cl, i)) =>
            cl.set.flatMap(_.toMap.get(c)) match {
              case Some(v) => when(col(act) === (i + 1),
                bind(v).cast(tSchema(c).dataType)).otherwise(acc)
              case None => acc
            }
          }.as(c)
        }: _*)
        enforceConstraints(root, prefix, post(rows.filter(changed)))
        val added = writeStaged(root, prefix, post(rows.filter(survivor || changed)),
          if (tCols.contains("topic")) Seq("topic") else Seq.empty)
        val updated = rows.filter(inTarget && changed)
        val cdc = pre(rows.filter(col(act).isin(deletes: _*)))
          .withColumn("_change_type", lit("delete"))
          .unionByName(pre(updated).withColumn("_change_type", lit("update_preimage")))
          .unionByName(post(updated).withColumn("_change_type", lit("update_postimage")))
          .unionByName(post(rows.filter(!inTarget && changed))
            .withColumn("_change_type", lit("insert")))
        writeCdc(root, prefix, cdc) {
          commitRewrite(root, prefix, "merge", snap, matchedFiles, added, txn)
        }
      }
    }
  }

  /** Output-partition budget for a staged write (guide §6: aim for
    * few, well-sized files, not one tiny file per input partition).
    * The optimizer's size estimate picks ceil(bytes / target) writer
    * partitions, clamped to [1, current partitions] — a 1,000-row
    * commit lands as ONE file instead of 32 (one per local core),
    * which cuts (a) 32 write tasks to 1, (b) 32 serial driver-side
    * footer-stat reads per commit to 1, and (c) every downstream
    * read/rewrite of the table from 32 file-opens to 1. Estimates are
    * only used to SHRINK parallelism (never widen), so a misestimate
    * costs file-size balance, never correctness; `coalesce` is a
    * narrow dependency — no extra shuffle is introduced (§2.4).
    * Target size: `spark.graft.write.targetFileBytes` (default 128 MB
    * — the parquet-friendly floor of the guide's 128 MB–1 GB band;
    * a cluster deployment raises it per §6). */
  private def sizedForWrite(data: DataFrame): DataFrame = {
    // an EXPLICIT repartition/coalesce on top of the frame is a caller
    // choosing the output layout (compact's targetFileBytes split,
    // cluster/clusterZOrder's repartitionByRange(targetFiles)) — honor
    // it, exactly like AQE honors user-specified repartitions. Look
    // through output-preserving wrappers only: projections/aliases,
    // plus per-partition sorts and filters (r14 ADVICE: a caller's
    // repartitionByRange(...).sortWithinPartitions(...) is still an
    // explicit layout — silently coalescing it would destroy the
    // intended clustering).
    def explicitLayout(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): Boolean =
      p match {
        case pr: org.apache.spark.sql.catalyst.plans.logical.Project =>
          explicitLayout(pr.child)
        case a: org.apache.spark.sql.catalyst.plans.logical.SubqueryAlias =>
          explicitLayout(a.child)
        case s: org.apache.spark.sql.catalyst.plans.logical.Sort if !s.global =>
          explicitLayout(s.child)
        case f: org.apache.spark.sql.catalyst.plans.logical.Filter =>
          explicitLayout(f.child)
        case _: org.apache.spark.sql.catalyst.plans.logical.Repartition => true
        case _: org.apache.spark.sql.catalyst.plans.logical.RepartitionByExpression => true
        case _ => false
      }
    if (explicitLayout(data.queryExecution.analyzed)) return data
    val target = math.max(1L,
      data.sparkSession.conf.get("spark.graft.write.targetFileBytes",
        (128L << 20).toString).toLong)
    // a failed probe keeps the frame's own partitioning: the write
    // then costs file-size balance, never correctness
    def unsized(probe: String, e: Throwable): DataFrame = {
      System.err.println(s"[graft] staged write keeps its partitioning: $probe failed: $e")
      data
    }
    val est =
      try data.queryExecution.optimizedPlan.stats.sizeInBytes
      catch { case NonFatal(e) => return unsized("size estimate", e) }
    val want = (est / target) + (if (est % target == 0) 0 else 1)
    // a plainly-wide estimate can never shrink a local/cluster stage's
    // partition count — skip the partition-count probe outright
    if (want >= BigInt(1 << 20)) return data
    // r14 ADVICE: data.rdd built a SECOND QueryExecution (re-analysis
    // plus a row-deserializer plan) per staged write just to read a
    // partition count; toRdd reuses the already-built execution (its
    // optimizedPlan was just computed for the estimate above)
    val cur =
      try data.queryExecution.toRdd.getNumPartitions
      catch { case NonFatal(e) => return unsized("partition count", e) }
    // r14 verdict hazard: `coalesce` is narrow, so it shrinks the whole
    // upstream stage, and the size estimate does not model per-row
    // EXPRESSION cost — a tiny scan feeding row-exploding (Generate) or
    // opaque (UDF) work could collapse to one task at scale. Bound the
    // shrink to cur/8 when the plan carries such nodes; a misestimate
    // then costs file-size balance, never serialized compute.
    def opaqueCost(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): Boolean =
      p.exists {
        case _: org.apache.spark.sql.catalyst.plans.logical.Generate => true
        case node => node.expressions.exists(_.exists {
          case _: org.apache.spark.sql.catalyst.expressions.ScalaUDF => true
          case _ => false
        })
      }
    val floor =
      if (cur > 8 && opaqueCost(data.queryExecution.optimizedPlan)) cur / 8 else 1
    val n = want.max(BigInt(floor)).min(BigInt(cur)).max(BigInt(1)).toInt
    if (n < cur) data.coalesce(n) else data
  }

  /** Write `data` through a STAGING directory beside the table dir and
    * move the parquet output into place under rename-markers. The
    * writer learns its own output files from the staging listing —
    * O(files written), NEVER a walk of the table directory (at 1M
    * files the before/after-listing idiom cost two full tree walks per
    * write) — and a racing listing-adoption [[commit]] can never sweep
    * half-written output: the staging dir lives outside the data dir
    * and the moved files carry the marker prefix no sweep adopts.
    * Same-filesystem moves are renames — zero data bytes.
    *
    * Concurrent writers to ONE table are safe by construction (r9
    * advisor target): each writer owns a UUID-named staging dir (no
    * shared mutable path), the moved part files carry task-unique
    * names (a collision would fail the move loudly, never clobber),
    * and a writer that crashes mid-move leaves only marker-named
    * orphans plus its staging dir — no commit adopts either, and
    * [[vacuum]] reclaims both age-gated. The racing COMMITS serialize
    * on the log's CREATE_NEW as always. */
  private[ingest] def writeStaged(root: String, prefix: String, data: DataFrame,
                                  partitionCols: Seq[String] = Seq.empty,
                                  subDir: String = "",
                                  writerOptions: Map[String, String] = Map.empty): Seq[String] = {
    val base = dataDir(root, prefix)
    Files.createDirectories(base)
    val staging = base.resolveSibling(
      s"${base.getFileName}._staging-" + java.util.UUID.randomUUID().toString.take(8))
    labeled(data.sparkSession, s"staged write $prefix") {
      val writer = sizedForWrite(data).write.mode("overwrite").options(writerOptions)
      (if (partitionCols.nonEmpty) writer.partitionBy(partitionCols: _*) else writer)
        .parquet(staging.toString)
    }
    val rels = Using.resource(Files.walk(staging))(_.iterator().asScala
      .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".parquet"))
      .map(p => staging.relativize(p).toString)
      .toSeq)
    val out = rels.map { rel =>
      val relPath = if (subDir.isEmpty) Paths.get(rel) else Paths.get(subDir).resolve(rel)
      val dst0 = base.resolve(relPath)
      val dst = dst0.resolveSibling(CompactedPrefix + dst0.getFileName)
      Files.createDirectories(dst.getParent)
      Files.move(staging.resolve(rel), dst)
      base.relativize(dst).toString
    }.sorted
    // drop the staging skeleton (_SUCCESS marker, emptied dirs)
    Using.resource(Files.walk(staging))(_.iterator().asScala.toSeq)
      .reverse.foreach(Files.deleteIfExists)
    out
  }

  /** INSERT OVERWRITE (full-table replace, copy-on-write): `data`
    * becomes the table's ENTIRE content in one commit. New files land
    * beside the old bytes (append-mode write, then rename-marked so a
    * racing plain [[commit]] can never adopt them as an append); one
    * "overwrite" version then pins exactly the new set and records
    * every previous file as removed. Old versions stay readable —
    * time travel and [[restore]] work across an overwrite — and
    * [[vacuum]] reclaims the replaced bytes later. Deletion vectors
    * die with the files they pointed at (the new snapshot carries
    * none). Fresh footer stats are assembled for the new files only,
    * so the manifest metadata paths (COUNT(*) / MIN / MAX / LIMIT
    * prefix / range pruning) are live immediately after the replace.
    *
    * Change feed: the replaced rows ride as row-grain "delete"
    * pre-images and the new rows as "insert"s — the same contract
    * [[delete]] and [[merge]] keep, so a replica applying the feed
    * converges. Both images are read back from committed bytes (the
    * old snapshot's files, the newly written files), never from
    * re-evaluating `data`'s plan.
    *
    * Concurrency: overwrite REPLACES the state at commit time,
    * recomputed per retry — a commit that lands mid-overwrite is
    * replaced too (Delta's serializable overwrite answer), never
    * resurrected next to the new content. Idempotent per `txn`.
    * At 100 TB: the write cost is the new data (unavoidable — that IS
    * the operation); the replace itself is one manifest commit. */
  def overwrite(spark: SparkSession, root: String, prefix: String,
                data: DataFrame, txn: Option[String] = None): Int = {
    val snap0 = snapshot(root, prefix, None)
    if (snap0.isEmpty) {
      // REPLACE TABLE AS SELECT / INSERT OVERWRITE on a freshly
      // CREATEd, never-committed table: nothing to remove, so the
      // overwrite IS the first append (commitFiles dedups txn replays)
      enforceConstraints(root, prefix, data)
      val added = writeStaged(root, prefix, data,
        if (data.columns.contains("topic")) Seq("topic") else Seq.empty)
      return commitFiles(root, prefix, added, maxPos = None, txn = txn)
    }
    val snap = snap0.get
    if (txn.exists(snap.txns.contains)) snap.version
    else {
      enforceConstraints(root, prefix, data)
      val base = dataDir(root, prefix)
      val added = writeStaged(root, prefix, data,
        if (data.columns.contains("topic")) Seq("topic") else Seq.empty)
      val evs = schemaEvents(root, prefix, snap)
      val cdc = readFilesFilled(spark, root, prefix, snap.files, evs, snap.dv)
        .withColumn("_change_type", org.apache.spark.sql.functions.lit("delete"))
        .unionByName(
          readFilesFilled(spark, root, prefix, added, evs)
            .withColumn("_change_type", org.apache.spark.sql.functions.lit("insert")))
      writeCdc(root, prefix, cdc) {
        commitNext(root, prefix, "overwrite") { head =>
          val cur = head.get
          Right(NextState(cur.maxPos max snap.maxPos, added, cur.files.sorted,
            cur.txns ++ txn, assembleStats(base, added, Seq.empty)))
        }
      }
    }
  }

  /** Append `data` as ONE exactly-once commit. Unlike the listing-
    * adoption [[commit]] (built for the ingest path, where files
    * appear first and a commit sweeps them in), this pins exactly
    * `previous ++ written`: the txn check runs BEFORE any file is
    * written (a replayed call writes nothing — with write-then-check,
    * a replay's files would sit unreferenced until the next plain
    * commit adopted them as duplicates), the new files are
    * rename-marked so a racing [[commit]] can never sweep them, and a
    * crash between write and commit leaves marked orphans no commit
    * ever adopts ([[vacuum]] reclaims them after the grace window).
    * The micro-batch sink and the DSv2 append both ride this. */
  def appendBatch(spark: SparkSession, root: String, prefix: String,
                  data: DataFrame, txn: Option[String] = None,
                  partitionCols: Seq[String] = Seq.empty): Int = {
    val snap0 = snapshot(root, prefix, None)
    if (txn.exists(t => snap0.exists(_.txns.contains(t)))) snap0.get.version
    else {
      enforceConstraints(root, prefix, data)
      val added = writeStaged(root, prefix, data, partitionCols)
      commitFiles(root, prefix, added, maxPos = None, txn = txn)
    }
  }

  /** Commit already-written (marker-named) files on top of the current
    * published head — the explicit-files append every batch writer
    * rides: the writer KNOWS its output (from [[writeStaged]]'s staging
    * listing), so the commit touches the log only, never a walk of the
    * table directory. `maxPos` None preserves the current watermark. */
  private[ingest] def commitFiles(root: String, prefix: String,
                                  added: Seq[String],
                                  maxPos: Option[Long] = None,
                                  txn: Option[String] = None): Int = {
    val base = dataDir(root, prefix)
    commitNext(root, prefix, "append") { cur =>
      // a racing first delivery of the SAME txn may have landed while
      // we wrote — re-check, orphaning our copy (vacuum's problem)
      if (txn.exists(t => cur.exists(_.txns.contains(t)))) Left(cur.get.version)
      else {
        val files = (cur.map(_.files).getOrElse(Seq.empty) ++ added).sorted
        Right(NextState(maxPos.getOrElse(cur.map(_.maxPos).getOrElse(-1L)), files,
          txns = cur.map(_.txns).getOrElse(Seq.empty) ++ txn,
          stats = assembleStats(base, files, cur.map(_.stats).getOrElse(Seq.empty)),
          dv = cur.map(_.dv).getOrElse(Seq.empty)))
      }
    }
  }

  /** replaceWhere (PARTIAL overwrite — Delta's `option("replaceWhere",
    * …)` / `writeTo(t).overwrite(cond)` semantics): in ONE commit,
    * every existing row matching `predicate` disappears (merge-on-read
    * deletion-vector sidecar — no data file is rewritten) and `data`
    * lands as new files. Every incoming row must SATISFY the
    * predicate — writing outside the replaced region is refused (the
    * Delta constraint) — so the commit is a deterministic region
    * replace: afterward the region holds exactly `data`, everything
    * else is untouched. The change feed carries replaced rows as
    * row-grain "delete" pre-images and the new rows as "insert"s.
    *
    * Cost at 100 TB: O(matched rows + new data) — a partition-grain
    * refresh touches the refreshed region only, never the table
    * (contrast [[overwrite]], which replaces everything). Predicate
    * NULL keeps the row, the DELETE rule. Conflicts like [[deleteMoR]]:
    * a concurrent rewrite claiming a matched file aborts the commit
    * (positions were computed against the old layout). Idempotent per
    * `txn`. */
  def overwriteWhere(spark: SparkSession, root: String, prefix: String,
                     predicate: org.apache.spark.sql.Column, data: DataFrame,
                     txn: Option[String] = None): Int = {
    val snap0 = snapshot(root, prefix, None)
    if (snap0.isEmpty) {
      // replaceWhere into a never-committed table: the region is empty,
      // so only the row-containment contract needs enforcing before
      // the write lands as the first append
      val m0 = org.apache.spark.sql.functions.coalesce(
        predicate, org.apache.spark.sql.functions.lit(false))
      require(data.filter(!m0).isEmpty,
        "replaceWhere: every incoming row must satisfy the predicate — " +
          "rows outside the replaced region would silently survive the next replace")
      enforceConstraints(root, prefix, data)
      val added = writeStaged(root, prefix, data,
        if (data.columns.contains("topic")) Seq("topic") else Seq.empty)
      return commitFiles(root, prefix, added, maxPos = None, txn = txn)
    }
    val snap = snap0.get
    if (txn.exists(snap.txns.contains)) snap.version
    else {
      val matches = org.apache.spark.sql.functions.coalesce(
        predicate, org.apache.spark.sql.functions.lit(false))
      require(data.filter(!matches).isEmpty,
        "replaceWhere: every incoming row must satisfy the predicate — " +
          "rows outside the replaced region would silently survive the next replace")
      enforceConstraints(root, prefix, data)
      val base = dataDir(root, prefix)
      val added = writeStaged(root, prefix, data,
        if (data.columns.contains("topic")) Seq("topic") else Seq.empty)
      val evs = schemaEvents(root, prefix, snap)
      // the matched set is what a region replace is FOR — small next
      // to the table; one materialization feeds sidecar + conflict
      // check + CDC pre-images (the deleteMoR discipline)
      val hits = readFilesFilled(spark, root, prefix, snap.files, evs,
        snap.dv, keepPositions = true)
        .filter(matches).localCheckpoint(true)
      val relOffset = base.toString.length + 2 // past base and its '/'
      val dvName =
        if (hits.isEmpty) None
        else Some("dv-" + java.util.UUID.randomUUID().toString.take(8))
      dvName.foreach { name =>
        hits.select(
          org.apache.spark.sql.functions.expr(
            s"substring($DvPathCol, $relOffset)").as("file"),
          col(DvPosCol).as("pos"))
          .coalesce(1)
          .write.parquet(dvDir(root, prefix).resolve(name).toString)
      }
      val touched: Set[String] =
        if (dvName.isEmpty) Set.empty
        else hits.select(DvPathCol).distinct()
          .collect().map(_.getString(0).substring(relOffset - 1)).toSet
      val cdc = hits.drop(DvPathCol, DvPosCol)
        .withColumn("_change_type", org.apache.spark.sql.functions.lit("delete"))
        .unionByName(
          readFilesFilled(spark, root, prefix, added, evs)
            .withColumn("_change_type", org.apache.spark.sql.functions.lit("insert")))
      writeCdc(root, prefix, cdc) {
        commitNext(root, prefix, "replacewhere", claimed = touched) { head =>
          val cur = head.get
          val files = (cur.files ++ added).sorted
          Right(NextState(cur.maxPos max snap.maxPos, files, txns = cur.txns ++ txn,
            stats = assembleStats(base, files, cur.stats), dv = cur.dv ++ dvName))
        }
      }
    }
  }

  /** DELETE (merge-on-read): rows matching `predicate` disappear from
    * the next snapshot WITHOUT rewriting any data file — the commit
    * records a deletion-vector sidecar of (file, row-position) pairs
    * that every read path anti-joins away (Delta DV / Iceberg v2
    * position-delete semantics). The inverse trade of [[delete]]: a
    * point delete against a 100 TB table writes kilobytes instead of
    * rewriting every file that holds one matched row; reads pay one
    * broadcast anti-join until [[compact]] materializes the deletions.
    * Use copy-on-write [[delete]] when the predicate hits a large row
    * fraction — there the rewrite pays for itself.
    *
    * Row identity is the parquet reader's `_metadata.row_index`, which
    * is the row's ordinal IN ITS FILE — stable across split planning
    * and scan parallelism, the same anchor Delta's DVs use. Rewrites
    * (compact/merge/delete) read DV-filtered and rename their outputs,
    * so a stale entry for a rewritten file can never match again;
    * conversely this commit CONFLICTS if a concurrent rewrite claimed
    * any file it marked (the positions it computed no longer exist).
    * Old versions keep reading the rows (snapshot isolation);
    * [[restore]] past this commit restores its target's dv set, so
    * the deletion is undone with it.
    *
    * The predicate may carry attributes resolved against another read
    * of the table ([[rebound]]).
    *
    * @param ranges advisory manifest-prunable bounds from the delete
    *   predicate (the SQL DELETE path maps its pushed filters): the
    *   hit scan opens only stat-overlapping files — a keyed DELETE
    *   against a 100 TB table reads candidates, never the table. */
  def deleteMoR(spark: SparkSession, root: String, prefix: String,
                predicate: org.apache.spark.sql.Column,
                txn: Option[String] = None,
                ranges: Seq[StatRange] = Seq.empty): Int = {
    val snap = snapshot(root, prefix, None).getOrElse(
      sys.error(s"nothing to delete from for $prefix"))
    if (txn.exists(snap.txns.contains)) snap.version
    else {
      val base = dataDir(root, prefix)
      val evs = schemaEvents(root, prefix, snap)
      val candidates = prunedFiles(snap, evs, ranges)
      if (candidates.isEmpty) return snap.version // stats exclude every file
      val frame = readFilesFilled(spark, root, prefix, candidates, evs,
        snap.dv, keepPositions = true)
      // same null rule as DELETE: predicate NULL keeps the row
      val matches = org.apache.spark.sql.functions.coalesce(
        rebound(frame.queryExecution.analyzed.output)(predicate),
        org.apache.spark.sql.functions.lit(false))
      // one materialization reused three ways: sidecar rows, touched
      // files for the conflict check, CDC pre-images. The hit set is
      // what a MoR delete is FOR — small next to the table. Its count
      // and touched files are observed metrics of the same job.
      val hitsMetric = "graft_delete_hits"
      val observed = frame.filter(matches)
        .observe(hitsMetric, org.apache.spark.sql.functions.count(
          org.apache.spark.sql.functions.lit(1)),
          org.apache.spark.sql.functions.collect_set(col(DvPathCol)))
      val hits = labeled(spark, "delete attribution")(observed.localCheckpoint(true))
      val hitStats = observedMetric(observed, hitsMetric)
      if (hitStats.getLong(0) == 0) snap.version // nothing matched — no new version
      else {
        val relOffset = base.toString.length + 2 // past base and its '/'
        val name = "dv-" + java.util.UUID.randomUUID().toString.take(8)
        labeled(spark, "dv sidecar write")(hits.select(
          col(DvPathCol).substr(relOffset, Int.MaxValue).as("file"),
          col(DvPosCol).as("pos"))
          // a sidecar is kilobytes-per-commit metadata: one file keeps
          // the read path's broadcast build cheap
          .coalesce(1)
          .write.parquet(dvDir(root, prefix).resolve(name).toString))
        val touched = hitStats.getSeq[String](1).map(_.substring(relOffset - 1)).toSet
        val cdc = hits.drop(DvPathCol, DvPosCol)
          .withColumn("_change_type", org.apache.spark.sql.functions.lit("delete"))
        // positions were computed against the touched files: a rewrite
        // that removed any of them relocated the rows, and this sidecar
        // would silently miss them — the claim aborts the commit
        writeCdc(root, prefix, cdc) {
          commitNext(root, prefix, "deletemor", claimed = touched) { head =>
            val cur = head.get
            Right(NextState.carry(cur).copy(txns = cur.txns ++ txn, dv = cur.dv :+ name))
          }
        }
      }
    }
  }

  /** Apply a change-feed increment to a replica table in ONE
    * copy-on-write pass (the q187 single-pass rule, incremental): the
    * LAST change per key wins — within a commit an upsert outranks a
    * delete, across commits the highest version — then one rewrite
    * replaces/removes exactly the touched keys' files. Cost is
    * O(changes + matched files), never the table. `txn` makes replays
    * no-ops — the exactly-once hook for [[replicateStream]]. */
  def applyChangeBatch(spark: SparkSession, root: String, prefix: String,
                       feed: DataFrame, keys: Seq[String],
                       txn: Option[String] = None): Int = {
    require(keys.nonEmpty, "applyChangeBatch needs at least one key column")
    val snap = snapshot(root, prefix, None).getOrElse(
      sys.error(s"nothing to apply into for $prefix"))
    if (txn.exists(snap.txns.contains)) snap.version
    else {
      val isUpsert = col("_change_type").isin("insert", "update_postimage")
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(keys.map(col): _*)
        .orderBy(col("_commit_version").desc, isUpsert.cast("int").desc)
      val last = feed
        .withColumn("_rn", org.apache.spark.sql.functions.row_number().over(w))
        .filter(col("_rn") === 1)
        .localCheckpoint(true) // reused by keys + upserts below
      if (last.isEmpty) snap.version // empty increment — no new version
      else {
        val evs = schemaEvents(root, prefix, snap)
        // the snapshot's resolved columns (deletion vectors drop rows,
        // never columns)
        val tableCols = readFilesFilled(spark, root, prefix, snap.files, evs).columns.toSeq
        val changedKeys = last.select(keys.map(col): _*).distinct()
          .localCheckpoint(true)
        val upserts = last.filter(isUpsert).select(tableCols.map(col): _*)
        // manifest pruning + exact attribution, the merge() two-stage
        // file location: only files holding a changed key are rewritten
        val candidates = snap.stats.find(s => s.column == keys.head && s.typ == "L") match {
          case Some(_) =>
            val mm = changedKeys.agg(
              org.apache.spark.sql.functions.min(keys.head),
              org.apache.spark.sql.functions.max(keys.head)).head()
            if (mm.isNullAt(0)) Seq.empty
            else prunedFiles(snap, evs, Seq(StatRange.longRange(keys.head, mm.getLong(0), mm.getLong(1))))
          case None => snap.files
        }
        val matchedFiles: Seq[String] =
          if (candidates.isEmpty) Seq.empty
          else {
            val withFile = readFilesFilled(spark, root, prefix, candidates,
              evs, snap.dv, keepPositions = true)
            attribute(snap, labeled(spark, "apply attribution")(
              distinctCollected(withFile.join(changedKeys, keys, "left_semi"), DvPathCol)))
          }
        // the rewrite carries the old rows minus the snapshot's
        // deletion vectors: a row a merge-on-read DELETE removed from
        // a rewritten file stays removed
        val oldMatched =
          if (matchedFiles.isEmpty) upserts.limit(0)
          else readFilesFilled(spark, root, prefix, matchedFiles, evs, snap.dv)
        // using-join reorders (keys first) — restore the logical order,
        // same reasoning as merge()
        val survivors = oldMatched.join(changedKeys, keys, "left_anti")
          .select(oldMatched.columns.map(col): _*)
        val out = survivors.unionByName(upserts)
        val added = writeStaged(root, prefix, out,
          if (out.columns.contains("topic")) Seq("topic") else Seq.empty)
        // row-grain CDC for the replica rides the feed increment itself
        // (change types preserved — a downstream replica can chain).
        // NET grain: only each key's last change is re-staged, so
        // source update pre-images are not forwarded (a second-level
        // incremental aggregate would need the REPLICA's own old rows
        // as pre-images, not the source's intermediate ones — diff
        // time-travel reads of the replica for that)
        writeCdc(root, prefix,
          last.drop("_rn", "_commit_version", "_commit_timestamp")) {
          commitRewrite(root, prefix, "merge", snap, matchedFiles, added, txn)
        }
      }
    }
  }

  /** Highest source version a [[replicateStream]] replica has applied,
    * parsed from its `cdc:<from>:<to>` transaction ids. */
  def appliedSourceVersion(root: String, prefix: String): Option[Int] =
    snapshot(root, prefix, None).toSeq.flatMap(_.txns)
      .flatMap {
        case s if s.startsWith("cdc:") =>
          s.split(':') match {
            case Array(_, _, to) => try Some(to.toInt) catch { case _: NumberFormatException => None }
            case _ => None
          }
        case _ => None
      }.maxOption

  /** Continuous CDC replication — the streaming consumer side of the
    * change feed (reference semantics: the A9 at-least-once ack loop
    * turned exactly-once). Each micro-batch applies every source
    * commit the replica has not yet applied, as ONE
    * [[applyChangeBatch]] under a window-derived transaction id: a
    * replayed batch recomputes the same applied-version window from
    * the replica's own log and no-ops. The tick stream only schedules
    * work (any stream works — rate, file arrivals, a Kafka control
    * topic); its rows are ignored, so replication progress is driven
    * by the SOURCE log, not by tick payloads. The replica must be
    * seeded with the source's version-0 state before the stream
    * starts. */
  def replicateStream(tick: DataFrame, srcRoot: String, srcPrefix: String,
                      dstRoot: String, dstPrefix: String, keys: Seq[String],
                      checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery =
    tick.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val s = batch.sparkSession
        val applied = appliedSourceVersion(dstRoot, dstPrefix).getOrElse(0)
        val latest = snapshot(srcRoot, srcPrefix, None).map(_.version).getOrElse(-1)
        if (latest > applied) {
          val feed = readChangeFeed(s, srcRoot, srcPrefix, applied, Some(latest))
          applyChangeBatch(s, dstRoot, dstPrefix, feed, keys,
            txn = Some(s"cdc:$applied:$latest"))
          ()
        }
      }
      .start()

  /** Streaming upsert sink with exactly-once semantics: each
    * micro-batch MERGEs into the snapshot table under a per-batch
    * transaction id, so a batch replayed after a crash/restart (the
    * foreachBatch at-least-once contract) is a no-op the second time. */
  def upsertStream(stream: DataFrame, root: String, prefix: String,
                   keys: Seq[String], checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        merge(batch.sparkSession, root, prefix, batch, keys,
          txn = Some(s"upsert:$batchId"))
        ()
      }
      .start()

  /** OPTIMIZE-style clustering rewrite: re-layout the latest snapshot
    * range-partitioned by `column` into ~`targetFiles` files, each
    * covering a narrow disjoint value range — the rewrite that turns
    * manifest stats pruning from "skips nothing on a hash-shuffled
    * table" into "opens only the overlapping files". Rows are
    * unchanged, so it commits as a compaction (time travel preserved,
    * incremental readers skip it). */
  def cluster(spark: SparkSession, root: String, prefix: String,
              column: String, targetFiles: Int = 8): Int = {
    val snap = snapshot(root, prefix, None).getOrElse(
      sys.error(s"nothing to cluster for $prefix"))
    val df = read(spark, root, prefix, Some(snap.version))
      .repartitionByRange(targetFiles, col(column))
    val added = writeStaged(root, prefix, df,
      if (df.columns.contains("topic")) Seq("topic") else Seq.empty)
    commitRewrite(root, prefix, "compact", snap, snap.files, added, txn = None)
  }

  /** Equi-depth split points for one column, metadata-scale on the
    * driver: numeric columns use approxQuantile (no row collection at
    * all); other orderable types reservoir-sample a bounded set of
    * values — the RangePartitioner idiom — and take sample quantiles.
    * Splits shape only the LAYOUT; pruning correctness always comes
    * from the footer stats, so a skewed sample can cost skipping,
    * never rows. */
  private def equiDepthSplits(df: DataFrame, column: String,
                              buckets: Int): Seq[org.apache.spark.sql.Column] = {
    import org.apache.spark.sql.types._
    val probs = (1 until buckets).map(_.toDouble / buckets).toArray
    df.schema(column).dataType match {
      case _: NumericType =>
        df.stat.approxQuantile(column, probs, 0.001)
          .distinct.sorted.toSeq.map(org.apache.spark.sql.functions.lit)
      case _ =>
        val n = df.count()
        if (n == 0) Seq.empty
        else {
          val sampled = df.select(col(column).cast("string")).na.drop
            .sample(withReplacement = false, math.min(1.0, 20000.0 / n), seed = 7)
            .collect().map(_.getString(0)).sorted
          if (sampled.isEmpty) Seq.empty
          else probs.map(p => sampled(((sampled.length - 1) * p).toInt))
            .distinct.toSeq.map(org.apache.spark.sql.functions.lit)
        }
    }
  }

  /** OPTIMIZE ZORDER-style multi-column clustering rewrite: each row
    * gets a Z-value interleaving the bits of its per-column equi-depth
    * bucket ids, and the table is rewritten range-partitioned by that
    * Z-value. Every output file then covers a narrow range on EVERY
    * clustered column at once, so [[pruneFilesMulti]] skips on any of
    * them — single-column clustering can only serve one predicate.
    * The bucket expressions are plain comparisons against split
    * literals (codegen'd, no UDF); rows are unchanged, so it commits
    * as a compaction (time travel preserved, CDC readers skip it). */
  def clusterZOrder(spark: SparkSession, root: String, prefix: String,
                    columns: Seq[String], targetFiles: Int = 8,
                    buckets: Int = 16): Int = {
    require(columns.nonEmpty, "clusterZOrder needs at least one column")
    val snap = snapshot(root, prefix, None).getOrElse(
      sys.error(s"nothing to cluster for $prefix"))
    val df = read(spark, root, prefix, Some(snap.version))
    import org.apache.spark.sql.functions.{lit => flit, shiftleft, shiftright, when}
    val bucketCols = columns.map { c =>
      val splits = equiDepthSplits(df, c, buckets)
      if (splits.isEmpty) flit(0L)
      else splits.map(s => when(col(c) >= s, 1L).otherwise(0L)).reduce(_ + _)
    }
    val nbits = 32 - Integer.numberOfLeadingZeros(math.max(1, buckets - 1))
    val zKey = (0 until nbits).flatMap { j =>
      bucketCols.zipWithIndex.map { case (b, i) =>
        shiftleft(shiftright(b, j).bitwiseAND(flit(1L)), j * columns.size + i)
      }
    }.reduce(_.bitwiseOR(_))
    val out = df.withColumn("_graft_z", zKey)
      .repartitionByRange(targetFiles, col("_graft_z"))
      .drop("_graft_z")
    val added = writeStaged(root, prefix, out,
      if (out.columns.contains("topic")) Seq("topic") else Seq.empty)
    commitRewrite(root, prefix, "compact", snap, snap.files, added, txn = None)
  }

  /** Physically delete files that only versions older than `keepFrom`
    * reference, then drop those versions' log entries (Delta VACUUM +
    * log cleanup). Time travel below `keepFrom` is gone afterwards.
    *
    * Files referenced by NO version at all are either garbage from a
    * crashed rewrite or the output of an IN-FLIGHT rewrite/append that
    * hasn't committed its snapshot yet — deleting the latter would
    * leave the rewrite's committed version unreadable. Delta VACUUM's
    * retention check exists for exactly this, so unreferenced files
    * younger than `orphanGraceMs` are kept; pass 0 only when no
    * concurrent writer can be active. */
  def vacuum(root: String, prefix: String, keepFrom: Int,
             orphanGraceMs: Long = 10L * 60 * 1000): Unit = {
    val vs = versions(root, prefix)
    val keepVs = vs.filter(_ >= keepFrom)
    val kept = keepVs
      .flatMap(v => snapshot(root, prefix, Some(v)).map(_.files).getOrElse(Seq.empty))
      .toSet
    val ever = referencedFiles(root, prefix)
    val now = System.currentTimeMillis()
    val base = dataDir(root, prefix)
    listDataFiles(root, prefix)
      .filterNot(kept)
      .filterNot { f =>
        // possible in-flight writer output — inside the grace window
        !ever(f) && (try now - Files.getLastModifiedTime(base.resolve(f)).toMillis < orphanGraceMs
                     catch { case _: java.io.IOException => true })
      }
      .foreach(f => Files.deleteIfExists(base.resolve(f)))
    def rmTree(p: Path): Unit = if (Files.exists(p)) {
      Using.resource(Files.walk(p))(_.iterator().asScala.toSeq)
        .reverse.foreach(Files.deleteIfExists)
    }
    // checkpoint barrier: a kept DELTA manifest whose parent falls
    // below the cut must become self-resolvable BEFORE its chain is
    // truncated (ascending order: every parent still exists while its
    // dependents checkpoint)
    val dropping = vs.filter(_ < keepFrom).toSet
    if (dropping.nonEmpty) keepVs.foreach { v =>
      if (!Files.isRegularFile(ckptPath(root, prefix, v))) {
        val e = entryOf(root, prefix, v)
        if (e.files.isEmpty && e.parent.exists(p => p >= 0 && dropping(p)))
          writeCheckpoint(root, prefix, resolveSnapshot(root, prefix, v))
      }
    }
    vs.filter(_ < keepFrom).foreach { v =>
      Files.deleteIfExists(versionPath(root, prefix, v))
      Files.deleteIfExists(ckptPath(root, prefix, v)) // checkpoints die with their version
      rmTree(cdcDir(root, prefix, v)) // change records die with their version
    }
    // CDC staging dirs are pre-commit state; one older than the grace
    // window is crash garbage (its rewrite either committed — and the
    // rename happened — or died)
    val cdcRoot = Paths.get(s"$root/$prefix._cdc")
    if (Files.isDirectory(cdcRoot))
      Using.resource(Files.list(cdcRoot))(_.iterator().asScala.toSeq)
        .filter(_.getFileName.toString.startsWith("staging-"))
        .filter(p => try now - Files.getLastModifiedTime(p).toMillis >= orphanGraceMs
                     catch { case _: java.io.IOException => false })
        .foreach(rmTree)
    // writeStaged data-staging siblings: a crash between the parquet
    // write and the move-into-place leaves the whole dir outside the
    // table — same grace rule as CDC staging
    val parent = dataDir(root, prefix).toAbsolutePath.getParent
    val stagePfx = dataDir(root, prefix).getFileName.toString + "._staging-"
    if (parent != null && Files.isDirectory(parent))
      Using.resource(Files.list(parent))(_.iterator().asScala.toSeq)
        .filter(_.getFileName.toString.startsWith(stagePfx))
        .filter(p => try now - Files.getLastModifiedTime(p).toMillis >= orphanGraceMs
                     catch { case _: java.io.IOException => false })
        .foreach(rmTree)
    // deletion-vector sidecars no kept version references are either
    // dropped history or a lost-race deleteMoR; the grace window
    // protects one whose commit is in flight
    val keptDv = keepVs
      .flatMap(v => snapshot(root, prefix, Some(v)).map(_.dv).getOrElse(Seq.empty))
      .toSet
    val dvRoot = dvDir(root, prefix)
    if (Files.isDirectory(dvRoot))
      Using.resource(Files.list(dvRoot))(_.iterator().asScala.toSeq)
        .filterNot(p => keptDv(p.getFileName.toString))
        .filter(p => try now - Files.getLastModifiedTime(p).toMillis >= orphanGraceMs
                     catch { case _: java.io.IOException => false })
        .foreach(rmTree)
    // Bound refsEver (round-10): the cumulative ever-referenced set
    // exists for ONE purpose — keeping [[commit]]'s listing sweep from
    // re-adopting files an earlier commit already owns. A physically
    // deleted file can never be listed again, so carrying its name
    // forever makes the checkpoint O(files ever written) on
    // churn-heavy tables (a year of daily OPTIMIZE ≈ the whole write
    // history) — Delta bounds its tombstone set by the retention
    // window for the same reason. Prune to (files still on disk) ∪
    // (files kept versions pin) and re-anchor the NEWEST kept
    // version's checkpoint with the bounded set: every later
    // checkpoint folds from this one, so the bound propagates.
    keepVs.maxOption.foreach { v =>
      val liveNow = listDataFiles(root, prefix).toSet
      val pruned = ((ever.intersect(liveNow)) ++ kept).toSeq.sorted
      // only rewrite when something actually fell out — a no-op vacuum
      // must not churn checkpoint bytes
      if (pruned.size < ever.size) {
        writeCheckpoint(root, prefix, resolveSnapshot(root, prefix, v),
          refsOverride = Some(pruned), overwrite = true)
      }
    }
  }
}

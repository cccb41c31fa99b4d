package graft.txn

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.json4s.{DefaultFormats, Formats}
import org.json4s.jackson.Serialization

import java.nio.charset.StandardCharsets

/** Minimal Delta-style transaction log over any Hadoop filesystem
  * (file://, hdfs://, s3a:// — config comes from the Hadoop Configuration,
  * never from committed secrets; contrast reference core-site.xml:19–26).
  *
  * Layout: `<table>/_txn_log/%020d.json`, one commit per file, one JSON
  * action per line. Commits are atomic via write-temp + rename-if-absent,
  * which is the single-writer optimistic-concurrency protocol the
  * reference relies on delta-standalone for (DeltaReader.java:301–303).
  *
  * Reading a version starts from ONE `listStatus` of `_txn_log`: the
  * committed versions, each commit file's length and modification time,
  * and the complete checkpoint sets all come from that listing, and
  * nothing re-lists the directory for the same snapshot.
  *
  * The driver state of a table version is built once per JVM: a cache
  * keeps, per qualified table path, the newest [[Snapshot]] resolved, the
  * length and modification time of its commit file, the checkpoint it
  * was replayed from, and the deletion-vector masks loaded for it. A
  * snapshot of version v reuses the entry at version c ≤ v when the
  * listing still shows c's commit file with the same length and
  * modification time and the same newest checkpoint ≤ v; it then applies
  * only commits c+1..v. Anything else — a rewritten or vanished commit, a
  * new checkpoint, time travel below c — replays from the checkpoint as a
  * cold read does, so a cached snapshot always equals a cold replay, file
  * order included. A table dropped and re-created at the same path with a
  * commit of the same length in the same millisecond would pass the
  * check: dropping a table through [[graft.sources.GraftCatalog]] evicts
  * its entry for that reason. Entries are softly referenced, one per
  * table, so the cache needs no size setting and yields under memory
  * pressure.
  */
final class TxnLog(
    val tablePath: String,
    conf: Configuration,
    val checkpointInterval: Int = TxnLog.DefaultCheckpointInterval,
    val checkpointPartSize: Int = TxnLog.DefaultCheckpointPartSize,
    val tombstoneRetentionMillis: Long = TxnLog.DefaultTombstoneRetentionMillis,
    val txnRetentionMillis: Option[Long] = None) {

  private implicit val formats: Formats = DefaultFormats

  private val logDir = new Path(tablePath, "_txn_log")
  private def fs: FileSystem = logDir.getFileSystem(conf)

  private def commitFile(v: Long): Path = new Path(logDir, f"$v%020d.json")
  // Lock key must survive path aliasing (trailing slash, relative vs
  // absolute, file: URI) — aliases taking DIFFERENT locks would reopen
  // the check-then-create race the lock closes. Rebuilt from the URI
  // parts because `makeQualified` preserves a null-vs-empty authority
  // distinction ("file:/t" vs "file:///t") that toString keeps apart.
  private lazy val lockKey: String = {
    val u = fs.makeQualified(new Path(tablePath)).toUri
    s"${u.getScheme}://${Option(u.getAuthority).getOrElse("")}${u.getPath}"
  }
  private def checkpointFile(v: Long): Path =
    new Path(logDir, f"$v%020d.checkpoint.parquet")
  // Multi-part checkpoint (the Delta `v.checkpoint.<i>.<n>.parquet`
  // idea): a million-AddFile state splits across parts so no single
  // parquet write/read serializes the whole log state through one
  // buffer. A version is checkpointed iff the single file exists OR a
  // COMPLETE part set does (all n of `.i.n.parquet`, i = 1..n) —
  // a crash mid-set leaves an ignored incomplete set, never a torn read.
  private def checkpointPartFile(v: Long, part: Int, numParts: Int): Path =
    new Path(logDir, f"$v%020d.checkpoint.$part%010d.$numParts%010d.parquet")
  private val PartName =
    """(\d{20})\.checkpoint\.(\d{10})\.(\d{10})\.parquet""".r

  private val CommitName = """(\d{20})\.json""".r
  private val CheckpointName = """(\d{20})\.checkpoint\.parquet""".r

  /** One `listStatus` of `_txn_log`: see [[TxnLog.Listing]]. */
  private[txn] def listing(): TxnLog.Listing = {
    val statuses =
      try fs.listStatus(logDir)
      catch { case _: java.io.FileNotFoundException => Array.empty[FileStatus] }
    val commits = scala.collection.immutable.TreeMap.newBuilder[Long, FileStatus]
    val single = scala.collection.mutable.HashMap.empty[Long, Path]
    val parts = scala.collection.mutable.HashMap.empty[(Long, Int), Set[Int]]
    statuses.foreach { st =>
      st.getPath.getName match {
        case CommitName(v) => commits += v.toLong -> st
        case CheckpointName(v) => single(v.toLong) = st.getPath
        case PartName(v, p, n) =>
          val k = (v.toLong, n.toInt)
          parts(k) = parts.getOrElse(k, Set.empty) + p.toInt
        case _ => ()
      }
    }
    val multi = parts.toSeq.collect { case ((v, n), ps) if ps.size == n &&
        (1 to n).forall(ps.contains) => v -> n }
      .groupMapReduce(_._1)(_._2)(math.max)
      .map { case (v, n) => v -> (1 to n).map(checkpointPartFile(v, _, n)) }
    val checkpoints = scala.collection.immutable.TreeMap.from(
      multi ++ single.map { case (v, p) => v -> Seq(p) })
    new TxnLog.Listing(commits.result(), checkpoints)
  }

  private def checkpointFilesOf(v: Long): Seq[Path] =
    listing().checkpoints.getOrElse(v, Seq.empty)

  /** Commit-file reads since construction — observability hook for the
    * checkpoint spec (proves snapshot() reads checkpoint + tail, not the
    * whole log).
    */
  private[graft] var commitReads: Long = 0L

  /** All committed versions, ascending. */
  def versions(): Seq[Long] = listing().versions

  def latestVersion(): Option[Long] = listing().commits.lastOption.map(_._1)

  /** Latest COMPLETE committed version, probed FORWARD from a known-
    * committed `hint` with exists() calls instead of a whole-log-dir
    * listing.
    *
    * Sound because commit versions are CONTIGUOUS in the retained
    * range: allocation happens only at [[commit]]'s fail-if-exists
    * choke point (a conflicting writer retries at v+1, never skips),
    * and retention deletes only log PREFIXES — so the first missing
    * version after a committed one is the end of the log. A streaming
    * tail polling an idle 10⁶-commit table pays ONE exists probe per
    * trigger this way, versus an O(retained log) listStatus per trigger
    * (the directory-listing cost Delta pays on _delta_log — priced in
    * FileCountRehearsalSpec, red-on-regression). Falls back to the full
    * listing when the hint is unknown or vacuumed past.
    *
    * A commit file is created before its bytes land, so a version is
    * admitted only once its terminator is readable: a planner handed the
    * result never reads a commit that is still being written (the
    * writer's close can take longer than [[read]]'s short retry).
    */
  def latestVersionFrom(hint: Long): Option[Long] = {
    if (hint < 0 || !fs.exists(commitFile(hint))) {
      val l = listing()
      return l.commits.keys.toSeq.reverseIterator
        .find(v => isCached(v, l.commits(v)) || complete(v))
    }
    var v = hint
    while (fs.exists(commitFile(v + 1)) && complete(v + 1)) v += 1
    Some(v)
  }

  /** Whether commit `v` is fully written (its terminator is readable). */
  private def complete(v: Long): Boolean =
    try tryReadComplete(v).isRight
    catch { case _: java.io.FileNotFoundException => false }

  /** Atomically commit `actions` as version `v`. Fails if v exists.
    *
    * Mutual exclusion comes from `fs.create(dest, overwrite = false)`,
    * which fails-if-exists on local and HDFS filesystems (POSIX rename —
    * what a write-temp+rename protocol would rely on — silently
    * OVERWRITES on RawLocalFileSystem, so rename gives no exclusion
    * there). Visibility atomicity comes from a TERMINATOR invariant: the
    * last line of every commit file is a CommitInfo, and [[read]] refuses
    * (after a short grace) any file that does not end in one — so a reader
    * racing the writer's close can never mistake a truncated prefix for
    * the full commit. Object stores without conditional-put need an
    * external coordinator, as in Delta.
    */
  def commit(v: Long, actions: Seq[Action]): Unit = {
    fs.mkdirs(logDir)
    // stable row ids: allocate base ids for new data files at the single
    // commit choke point, so EVERY writer path (append, compact, COW,
    // streaming epoch, clone) participates without per-site wiring
    val (withIds, highWater) = assignRowIds(v, actions)
    // terminator invariant: CommitInfo lines sort last, synthesizing one
    // if the caller supplied none
    val (infos, rest) = withIds.partition(_.isInstanceOf[CommitInfo])
    val terminated = rest ++ (if (infos.nonEmpty) infos
      else Seq(CommitInfo("COMMIT", System.currentTimeMillis(),
        rowIdHighWater = highWater)))
    // Same-JVM writers must serialize here: Hadoop's local ChecksumFileSystem
    // implements create(overwrite=false) as check-then-create, so two
    // threads racing the same version can BOTH "win" and one commit is
    // silently truncated over (caught by the racing-writers spec). Cross-
    // process exclusion still comes from create-no-overwrite where the
    // filesystem makes it atomic (HDFS namenode); object stores need an
    // external coordinator, as documented above.
    TxnLog.commitLockFor(lockKey).synchronized {
      val out =
        try fs.create(commitFile(v), false)
        catch {
          case _: org.apache.hadoop.fs.FileAlreadyExistsException |
              _: java.io.IOException if fs.exists(commitFile(v)) =>
            throw new IllegalStateException(
              s"concurrent commit: version $v already exists at $tablePath")
        }
      try out.write(terminated.map(a => Serialization.write(LogLine(a)))
        .mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
      finally out.close()
    }
    // Periodic parquet checkpoint (Delta's pre-checkpoint driver
    // bottleneck fix): snapshot resolution then reads one checkpoint +
    // ≤ interval tail commits instead of replaying the whole log.
    // Best-effort: version v IS committed at this point, so a checkpoint
    // failure must not fail commit() (snapshot() falls back to replaying
    // commit files when no checkpoint exists).
    if (checkpointInterval > 0 && v > 0 && v % checkpointInterval == 0)
      try writeCheckpoint(v)
      catch {
        case e: Exception =>
          System.err.println(
            s"[txnlog] checkpoint at $v failed (non-fatal): ${e.getMessage}")
      }
  }

  /** Allocate [[AddFile.baseRowId]] for this commit's NEW data files
    * (those without one; a re-add carrying its id — DV transition,
    * rebase, clone import — keeps it and only advances the cursor).
    * Returns the possibly-rewritten actions plus the post-commit
    * high-water mark to stamp on the CommitInfo. No-op (and no extra
    * log reads) for commits that touch no stats-bearing data files.
    *
    * The cursor comes from the LAST persisted `rowIdHighWater`, never
    * from the live-file max — so ids of vacuumed/rewritten files are
    * retired forever, not recycled. On a pre-tracking log the first
    * allocating commit walks the tail once to prove there is no marker,
    * then seeds from the live files; every later commit finds its
    * marker one read away.
    */
  private def assignRowIds(
      v: Long, actions: Seq[Action]): (Seq[Action], Option[Long]) = {
    val dataAdds = actions.collect { case a: AddFile => a }
    val needs = dataAdds.exists(a => a.baseRowId.isEmpty && a.stats.isDefined)
    val carries = dataAdds.exists(_.baseRowId.isDefined)
    if (!needs && !carries) return (actions, None)
    // always seed from the persisted mark: a re-add-only commit (DV
    // delete) stamping max(carried ends) alone could ROLL BACK a higher
    // mark from files it doesn't touch — and recycle retired ids
    var cursor = rowIdHighWater(v - 1)
    val out = actions.map {
      case a: AddFile if a.baseRowId.isEmpty && a.stats.isDefined =>
        val assigned = a.copy(baseRowId = Some(cursor))
        cursor += a.stats.get.numRecords
        assigned
      case a: AddFile if a.baseRowId.isDefined =>
        cursor = math.max(cursor,
          a.baseRowId.get + a.stats.map(_.numRecords).getOrElse(0L))
        a
      case other => other
    }
    val stamped = out.map {
      case c: CommitInfo => c.copy(rowIdHighWater = Some(cursor))
      case other => other
    }
    (stamped, Some(cursor))
  }

  /** First unused stable row id as of version `uptoV` (inclusive): the
    * newest persisted mark, found by reading commits back from `uptoV`
    * (no log listing). The walk ends at the first missing commit (log
    * start or expired prefix); a log with no mark in reach seeds from
    * the live files at `uptoV`.
    */
  def rowIdHighWater(uptoV: Long): Long = {
    val commits = Iterator.iterate(uptoV)(_ - 1).takeWhile(_ >= 0)
      .map(v => try Some(read(v))
        catch { case _: java.io.FileNotFoundException => None })
      .takeWhile(_.nonEmpty).flatten.buffered
    if (!commits.hasNext) return 0L // no commit at uptoV
    commits.flatMap(_.collectFirst {
      case c: CommitInfo if c.rowIdHighWater.isDefined => c.rowIdHighWater.get
    }).nextOption().getOrElse(snapshot(uptoV).files
      .flatMap(f => f.baseRowId.map(_ + f.stats.map(_.numRecords).getOrElse(0L)))
      .foldLeft(0L)(math.max))
  }

  /** Next unallocated value of a GENERATED ALWAYS AS IDENTITY column as
    * of version `uptoV`: the last persisted per-column marker, else the
    * declared start. Same persisted-cursor discipline as
    * [[rowIdHighWater]] — values of deleted rows are never reissued.
    */
  def identityCursor(uptoV: Long, column: String, start: Long): Long = {
    versions().filter(_ <= uptoV).sorted.reverse.foreach { v =>
      read(v).collectFirst {
        case c: CommitInfo
            if c.identityHighWater.exists(_.contains(column)) =>
          c.identityHighWater.get(column)
      } match {
        case Some(h) => return h
        case None    =>
      }
    }
    start
  }

  /** Parse the actions of one commit, in file order.
    *
    * Completeness gate: a commit is only visible once its CommitInfo
    * terminator line (with trailing newline) is readable. A file still
    * being flushed by a racing writer fails the gate; we retry briefly
    * (the writer's close is imminent) and then throw — never silently
    * return a truncated prefix.
    */
  def read(v: Long): Seq[Action] = {
    commitReads += 1
    var attempt = 0
    while (true) {
      tryReadComplete(v) match {
        case Right(actions) => return actions
        case Left(problem) =>
          attempt += 1
          if (attempt >= 5) throw new IllegalStateException(
            s"incomplete or corrupt commit file for version $v at " +
              s"$tablePath ($problem) — writer crashed mid-write?")
          Thread.sleep(20L * attempt)
      }
    }
    throw new IllegalStateException("unreachable")
  }

  private def tryReadComplete(v: Long): Either[String, Seq[Action]] = {
    // a torn concurrent write can also surface as an IO/checksum error
    // (e.g. LocalFileSystem's crc) — same treatment as a short read
    val text = try {
      val in = fs.open(commitFile(v))
      try {
        val bytes = new java.io.ByteArrayOutputStream()
        org.apache.hadoop.io.IOUtils.copyBytes(in, bytes, 65536, false)
        bytes.toString("UTF-8")
      } finally in.close()
    } catch {
      case e: java.io.FileNotFoundException => throw e // truly absent: caller bug
      case e: java.io.IOException => return Left(s"read failed: ${e.getMessage}")
    }
    if (text.isEmpty || text.last != '\n')
      return Left("no trailing newline")
    val actions =
      try text.split('\n').iterator.map(_.trim).filter(_.nonEmpty)
        .map(l => Serialization.read[LogLine](l).action).toSeq
      catch { case e: Exception => return Left(s"unparseable line: ${e.getMessage}") }
    if (!actions.lastOption.exists(_.isInstanceOf[CommitInfo]))
      return Left("missing CommitInfo terminator")
    Right(actions)
  }

  /** Commit iterator from `fromVersion` (inclusive) — the engine's
    * equivalent of deltaLog.getChanges (DeltaReader.java:186–193), with
    * the version-skip defect (#7) fixed: every later version is returned.
    */
  def changes(fromVersion: Long): Iterator[(Long, Seq[Action])] =
    versions().iterator.filter(_ >= fromVersion).map(v => (v, read(v)))

  /** Expire log segments past the retention horizon (Delta's
    * logRetentionDuration): pick the newest CHECKPOINT at or below the
    * horizon (greatest version whose commit timestamp predates
    * `nowMillis - retainMillis`), then delete every commit file and
    * checkpoint STRICTLY below it. Resolution of any retained version
    * starts from that base checkpoint, so snapshots and time travel at
    * or above it are untouched; older versions now refuse with the
    * standard does-not-exist error instead of silently misreading. A
    * million-commit table keeps its log bounded this way — commit
    * JSONs never accumulate past retention + one checkpoint interval.
    * Data files are NOT touched (that is [[TableWriter.vacuum]]'s job).
    * Returns the deleted log file names. No-op (empty) when no
    * checkpoint is old enough to anchor resolution.
    */
  def expireLog(
      retainMillis: Long,
      nowMillis: Long = System.currentTimeMillis()): Seq[String] = {
    val cutoff = nowMillis - retainMillis
    val l = listing()
    val vs = l.versions
    def tsOf(v: Long): Long = read(v)
      .collectFirst { case c: CommitInfo => c.timestamp }
      .getOrElse(Long.MaxValue)
    // Timestamps are CALLER-SUPPLIED wall clocks, so monotonicity cannot
    // be assumed: one skewed (older) stamp on a newer version must never
    // expire in-retention history. Scan OLDEST-first with a running max
    // (each commit's effective time is clamped up to the newest seen
    // below it) and stop at the first effective time inside retention —
    // a skewed clock can then only RETAIN more, never expire early. The
    // scan deserializes only the expirable prefix + 1: on first expiry
    // that prefix is exactly what gets deleted (a one-time cost), and on
    // every later call the log already starts at the previous base, so
    // the prefix is bounded by retention + one checkpoint interval.
    var runMax = Long.MinValue
    var horizon = -1L
    val it = vs.iterator
    var halted = false
    while (it.hasNext && !halted) {
      val v = it.next()
      runMax = math.max(runMax, tsOf(v))
      if (runMax < cutoff) horizon = v else halted = true
    }
    if (horizon < 0) return Seq.empty
    l.checkpoints.rangeTo(horizon).lastOption match {
      case None => Seq.empty
      case Some((base, _)) =>
        val doomed = vs.filter(_ < base).map(commitFile) ++
          l.checkpoints.rangeUntil(base).values.flatten
        doomed.foreach(p => fs.delete(p, false))
        doomed.map(_.getName)
    }
  }

  /** Committed checkpoint versions, ascending. */
  def checkpointVersions(): Seq[Long] = listing().checkpoints.keys.toSeq

  /** Write the live-file state at `v` as a parquet checkpoint: one row
    * per action (kind ∈ {add, meta, remove, cdc, …}, json = the LogLine
    * encoding), written to a temp file then renamed in. Idempotent —
    * re-writing the same checkpoint is harmless.
    *
    * Beyond live state, the checkpoint carries REMOVE TOMBSTONES and
    * CDC-sidecar references younger than [[tombstoneRetentionMillis]]
    * (the Delta deleted-file-retention idea, aged against THIS
    * checkpoint's own commit timestamp so test clocks stay in one
    * domain): VACUUM then resolves its removed/referenced sets from one
    * checkpoint + the tail instead of replaying the whole log, and
    * [[expireLog]] can still drop old commits without vacuum losing the
    * removal times it retains for. Snapshot replay ignores these rows.
    */
  def writeCheckpoint(v: Long): Unit = {
    val l = listing()
    val snap = snapshotFrom(l, v)
    val ckptTs = read(v)
      .collectFirst { case c: CommitInfo => c.timestamp }
      .getOrElse(Long.MaxValue)
    // saturating floor: fake small test clocks must not wrap negative
    val keepFloor =
      if (ckptTs == Long.MaxValue || ckptTs < Long.MinValue + tombstoneRetentionMillis)
        Long.MinValue
      else ckptTs - tombstoneRetentionMillis
    // carry-forward: previous checkpoint's retained tombstones/cdc refs
    // plus everything in the commits since — deduped (newest removal per
    // path), then expired against the floor. A previous checkpoint
    // WITHOUT the tombstone marker (written before the feature) carries
    // nothing, so the gather falls back to the whole retained log — the
    // one-time upgrade cost that makes the marker trustworthy.
    val prevCp = l.checkpoints.rangeUntil(v).lastOption
    val (prevTombs, prevCdc, prevHasMarker) = prevCp
      .map { case (_, paths) => readCheckpointExtras(paths) }
      .getOrElse((Seq.empty, Seq.empty, false))
    val tombByPath = scala.collection.mutable.Map.empty[String, RemoveFile]
    prevTombs.foreach(r => tombByPath(r.path) = r)
    val cdcByPath = scala.collection.mutable.Map.empty[String, CdcFile]
    prevCdc.foreach(c => cdcByPath(c.path) = c)
    val gatherFrom =
      if (prevHasMarker) prevCp.fold(-1L)(_._1) else -1L
    l.versions.filter(x => x > gatherFrom && x <= v).foreach { tv =>
      val actions = read(tv)
      val ts = actions.collectFirst { case c: CommitInfo => c.timestamp }
        .getOrElse(0L)
      actions.foreach {
        case r: RemoveFile =>
          if (!tombByPath.get(r.path).exists(
              _.deletionTimestamp >= r.deletionTimestamp))
            tombByPath(r.path) = r
        case c: CdcFile =>
          cdcByPath(c.path) = c.copy(commitTimestamp =
            Some(c.commitTimestamp.getOrElse(ts)))
        case _ => ()
      }
    }
    val tombs = tombByPath.valuesIterator
      .filter(_.deletionTimestamp >= keepFloor).toSeq.sortBy(_.path)
    val cdcRefs = cdcByPath.valuesIterator
      .filter(_.commitTimestamp.forall(_ >= keepFloor)).toSeq.sortBy(_.path)
    // txn-marker retention (Delta's setTransactionRetentionDuration):
    // SetTxn idempotence markers otherwise accumulate FOREVER — a table
    // ingesting 10⁸ files via COPY INTO carries 10⁸ markers in every
    // snapshot. When a retention is configured, markers whose
    // lastUpdated predates this checkpoint's floor drop here (the
    // checkpoint is the only place markers persist across expireLog),
    // with the DOCUMENTED trade: an idempotent retry older than the
    // window may re-apply. Default None keeps every marker — opting
    // into the bound is the operator's call, exactly as in Delta.
    val txnFloor = txnRetentionMillis match {
      case Some(r) if ckptTs != Long.MaxValue &&
          ckptTs >= Long.MinValue + r => ckptTs - r
      case _ => Long.MinValue
    }
    val keptTxns = snap.txnMarkers.valuesIterator
      .filter(_.lastUpdated >= txnFloor).toSeq.sortBy(_.appId)
    // (kind, json) lines in deterministic order: control actions first,
    // then the live adds — chunked into parts when the state outgrows
    // checkpointPartSize. LAZY iterator end to end: JSON serialization
    // happens as each part streams out, so even the 5M-file state never
    // materializes its action strings in driver memory at once.
    val total = snap.metadata.size + snap.protocol.size +
      snap.files.size + keptTxns.size + tombs.size + cdcRefs.size + 1
    def lines: Iterator[(String, String)] =
      snap.metadata.iterator.map(m =>
        "meta" -> Serialization.write(LogLine(m))) ++
      snap.protocol.iterator.map(p =>
        "protocol" -> Serialization.write(LogLine(p))) ++
      snap.files.iterator.map(a =>
        "add" -> Serialization.write(LogLine(a))) ++
      keptTxns.iterator.map(t =>
        "txn" -> Serialization.write(LogLine(t))) ++
      tombs.iterator.map(r =>
        "remove" -> Serialization.write(LogLine(r))) ++
      cdcRefs.iterator.map(c =>
        "cdc" -> Serialization.write(LogLine(c))) ++
      // the FEATURE MARKER: distinguishes "this checkpoint carries
      // tombstones (possibly zero)" from a pre-feature checkpoint —
      // vacuum must not trust a tombstone-less old checkpoint as "no
      // removals" (that would delete recently-removed files). The json
      // is a parseable LogLine whose action every reader ignores.
      Iterator("tombstones" ->
        Serialization.write(LogLine(CommitInfo("TOMBSTONES_V1", keepFloor))))
    def writeOne(tmp: Path, chunk: Iterator[(String, String)]): Unit = {
      val schema = org.apache.parquet.schema.MessageTypeParser.parseMessageType(
        "message checkpoint { required binary kind (UTF8); required binary json (UTF8); }")
      fs.delete(tmp, false)
      val writeConf = new Configuration(conf)
      org.apache.parquet.hadoop.example.GroupWriteSupport.setSchema(schema, writeConf)
      val factory = new org.apache.parquet.example.data.simple.SimpleGroupFactory(schema)
      val writer = org.apache.parquet.hadoop.example.ExampleParquetWriter
        .builder(org.apache.parquet.hadoop.util.HadoopOutputFile.fromPath(tmp, writeConf))
        .withConf(writeConf)
        .build()
      try chunk.foreach { case (kind, json) =>
        writer.write(factory.newGroup()
          .append("kind", kind).append("json", json))
      } finally writer.close()
    }
    // what a cold replay of `v` now reads back from the checkpoint; the
    // cache moves onto it once every file is in place
    val written = snap.copy(txnMarkers = keptTxns.map(t => t.appId -> t).toMap)
    if (total <= checkpointPartSize) {
      val tmp = new Path(logDir, f".$v%020d.checkpoint.parquet.tmp")
      writeOne(tmp, lines)
      if (fs.rename(tmp, checkpointFile(v))) rebase(l, written)
      else fs.delete(tmp, false) // lost benign race
    } else {
      val n = ((total + checkpointPartSize - 1) / checkpointPartSize).toInt
      // write EVERY part to a temp first, then rename the set in: a
      // crash mid-way leaves an incomplete set that readers ignore
      val staged = lines.grouped(checkpointPartSize).zipWithIndex
        .map { case (chunk, i) =>
          val tmp = new Path(logDir,
            f".$v%020d.checkpoint.${i + 1}%010d.$n%010d.parquet.tmp")
          writeOne(tmp, chunk.iterator)
          (tmp, checkpointPartFile(v, i + 1, n))
        }.toSeq
      val renamed = staged.map { case (tmp, dst) =>
        fs.rename(tmp, dst) || { fs.delete(tmp, false); false }
      }
      if (renamed.forall(identity)) rebase(l, written)
    }
  }

  /** The remove tombstones and cdc references a checkpoint retained,
    * plus whether it carries the TOMBSTONE MARKER at all (a pre-feature
    * checkpoint must not be mistaken for "no removals") —
    * [[writeCheckpoint]]'s carry-forward input and vacuum's unit pins.
    */
  private[graft] def readCheckpointExtras(v: Long)
      : (Seq[RemoveFile], Seq[CdcFile], Boolean) =
    readCheckpointExtras(checkpointFilesOf(v))

  private def readCheckpointExtras(paths: Seq[Path])
      : (Seq[RemoveFile], Seq[CdcFile], Boolean) = {
    val tombs = scala.collection.mutable.ArrayBuffer.empty[RemoveFile]
    val cdc = scala.collection.mutable.ArrayBuffer.empty[CdcFile]
    var marker = false
    paths.foreach { path =>
      val reader = org.apache.parquet.hadoop.ParquetReader
        .builder(new org.apache.parquet.hadoop.example.GroupReadSupport(), path)
        .withConf(conf)
        .build()
      try {
        var g = reader.read()
        while (g != null) {
          if (g.getString("kind", 0) == "tombstones") marker = true
          else Serialization.read[LogLine](g.getString("json", 0)).action match {
            case r: RemoveFile => tombs += r
            case c: CdcFile    => cdc += c
            case _             => ()
          }
          g = reader.read()
        }
      } finally reader.close()
    }
    (tombs.toSeq, cdc.toSeq, marker)
  }

  /** Physical file(s) of checkpoint `v` — lets vacuum read the action
    * state as a DataFrame (distributed) instead of driver-side maps.
    */
  private[graft] def checkpointPaths(v: Long): Seq[Path] = checkpointFilesOf(v)

  /** Read a checkpoint's files back into its state (version unset). */
  private def readCheckpoint(paths: Seq[Path]): Snapshot = {
    val files = scala.collection.mutable.ArrayBuffer.empty[AddFile]
    var meta: Option[Metadata] = None
    var proto: Option[Protocol] = None
    var txns = Map.empty[String, SetTxn]
    paths.foreach { path =>
      val reader = org.apache.parquet.hadoop.ParquetReader
        .builder(new org.apache.parquet.hadoop.example.GroupReadSupport(), path)
        .withConf(conf)
        .build()
      try {
        var g = reader.read()
        while (g != null) {
          val action = Serialization.read[LogLine](g.getString("json", 0)).action
          action match {
            case a: AddFile  => files += a
            case m: Metadata => meta = Some(m)
            case p: Protocol => proto = Some(p)
            case t: SetTxn   => txns += (t.appId -> t)
            case _           => ()
          }
          g = reader.read()
        }
      } finally reader.close()
    }
    Snapshot(-1L, files.toSeq, meta, proto, txns)
  }

  /** Replay the log up to `asOf` (inclusive) into the live-file state,
    * starting from the newest checkpoint ≤ asOf when one exists — the
    * driver then reads ≤ checkpointInterval+1 commit files regardless of
    * log length — or from the cached state of an older version when the
    * listing shows it still holds (see the class doc).
    */
  def snapshot(asOf: Long): Snapshot = snapshotFrom(listing(), asOf)

  /** Latest snapshot; fails on an empty log (strict, per SURVEY §7.1 —
    * the reference's silent fallback-to-latest was defect-adjacent).
    */
  def snapshotLatest(): Snapshot = {
    val l = listing()
    snapshotFrom(l, l.commits.lastOption.map(_._1).getOrElse(
      throw new IllegalArgumentException(s"empty table at $tablePath")))
  }

  private def snapshotFrom(l: TxnLog.Listing, asOf: Long): Snapshot = {
    val vs = l.commits.rangeTo(asOf).keys
    if (vs.isEmpty)
      throw new IllegalArgumentException(
        s"version $asOf does not exist in $tablePath (earliest: " +
          s"${l.commits.headOption.map(_._1).getOrElse("<empty log>")})")
    val target = vs.last
    val cp = l.checkpointAtOrBelow(target)
    cached.filter(c => c.snapshot.version <= target && c.base == cp &&
        c.matches(l)) match {
      case Some(c) if c.snapshot.version == target => c.snapshot
      case Some(c) =>
        val r = new Replay(c.snapshot)
        l.commits.range(c.snapshot.version + 1, target + 1).keys
          .foreach(v => r(read(v)))
        publish(l, r.result(target), cp, Some(c))
      case None =>
        val r = cp match {
          case -1L => new Replay(Snapshot(-1L, Nil, None))
          case v => new Replay(readCheckpoint(l.checkpoints(v)))
        }
        vs.filter(_ > cp).foreach(v => r(read(v)))
        publish(l, r.result(target), cp, None)
    }
  }

  /** Live state under replay: the files stay in a copied
    * insertion-ordered map only once an action touches them — O(1) per
    * action, so a replay is linear in the files; a re-added path keeps
    * its place, a removed then re-added one moves last.
    */
  private final class Replay(from: Snapshot) {
    private var files: scala.collection.mutable.LinkedHashMap[String, AddFile] = _
    private var meta = from.metadata
    private var proto = from.protocol
    private var txns = from.txnMarkers

    private def live = {
      if (files == null) {
        files = scala.collection.mutable.LinkedHashMap.empty
        from.files.foreach(a => files(a.path) = a)
      }
      files
    }

    def apply(actions: Seq[Action]): Unit = actions.foreach {
      case a: AddFile    => live(a.path) = a
      case r: RemoveFile => live -= r.path
      case m: Metadata   => meta = Some(m)
      case p: Protocol   => proto = Some(p)
      case t: SetTxn     => txns += (t.appId -> t)
      case _: CommitInfo => ()
      case _: CdcFile    => () // change-data sidecars are never table state
    }

    def result(version: Long): Snapshot = {
      proto.foreach(TxnLog.assertReadable(_, tablePath))
      Snapshot(version, if (files == null) from.files else files.values.toSeq,
        meta, proto, txns)
    }
  }

  private def cached: Option[TxnLog.Cached] =
    Option(TxnLog.cache.get(lockKey)).flatMap(r => Option(r.get()))

  /** Whether the cache holds version `v` as listed with `status`: then
    * that commit was read whole, terminator included.
    */
  private def isCached(v: Long, status: FileStatus): Boolean =
    cached.exists(c => c.snapshot.version == v && c.status == TxnLog.stamp(status))

  /** Make `snap` (replayed from checkpoint `base`) the table's entry
    * unless a newer entry the listing still vouches for is in place. The
    * masks of the replaced state's files whose vector did not change
    * carry over.
    */
  private def publish(l: TxnLog.Listing, snap: Snapshot, base: Long,
      from: Option[TxnLog.Cached]): Snapshot = {
    val status = TxnLog.stamp(l.commits(snap.version))
    TxnLog.cache.compute(lockKey, (_, ref) => {
      val old = Option(ref).flatMap(r => Option(r.get())).filter(_.matches(l))
      if (old.exists(_.snapshot.version > snap.version)) ref
      else new java.lang.ref.SoftReference(new TxnLog.Cached(snap, status, base,
        TxnLog.carried(snap, from.orElse(old))))
    })
    snap
  }

  /** After a checkpoint of `snap.version` landed: the entry at that
    * version now stands on it.
    */
  private def rebase(l: TxnLog.Listing, snap: Snapshot): Unit =
    TxnLog.cache.computeIfPresent(lockKey, (_, ref) =>
      Option(ref.get()).filter(c => c.snapshot.version == snap.version &&
          c.matches(l))
        .fold(ref)(c => new java.lang.ref.SoftReference(
          new TxnLog.Cached(snap, c.status, snap.version, c.vectors))))

  /** The deletion-vector masks loaded for this table's cached state, by
    * (data file name, vector pointer); None when nothing is cached.
    */
  private[txn] def vectorMasks: Option[TxnLog.Vectors] = cached.map(_.vectors)

  /** Drop this table's cached state: the next read replays cold. */
  private[graft] def evictCached(): Unit = TxnLog.cache.remove(lockKey)

  /** Commit history, newest first: (version, operation, timestamp,
    * n_adds, n_removes) — the DESCRIBE HISTORY surface. `limit` bounds
    * the read to the newest N commits (Delta's DESCRIBE HISTORY LIMIT):
    * an operator checking "what touched this table today" on a
    * million-commit log must not replay the million.
    */
  def history(limit: Int = Int.MaxValue): Seq[(Long, String, Long, Long, Long)] =
    versions().reverse.take(limit).map { v =>
      val actions = read(v)
      val ci = actions.collectFirst { case c: CommitInfo => c }
        .getOrElse(CommitInfo("UNKNOWN", 0L))
      (v, ci.operation, ci.timestamp,
        actions.count(_.isInstanceOf[AddFile]).toLong,
        actions.count(_.isInstanceOf[RemoveFile]).toLong)
    }

  /** Timestamp-as-of resolution: greatest version whose EFFECTIVE
    * commit time ≤ ts (reference intent: DeltaReader.java:134–146, made
    * strict: no silent fallback). Effective time is the MONOTONIZED
    * stamp — each version's clock clamped up to the newest seen below
    * it, Delta's own adjusted-timestamp rule — so a skewed backwards
    * clock can never make a LATER version resolve for an EARLIER
    * instant (version order and time order stay consistent).
    *
    * Bounded scan: ascending, stopping at the first effective time past
    * `ts` — monotone effective times mean no later version can qualify,
    * so resolution reads only the prefix up to the answer instead of
    * the whole log.
    */
  def versionAtTimestamp(ts: Long): Long = {
    var runMax = Long.MinValue
    var answer = -1L
    val it = versions().iterator
    var done = false
    while (it.hasNext && !done) {
      val v = it.next()
      val t = read(v).collectFirst { case c: CommitInfo => c.timestamp }
        .getOrElse(Long.MaxValue)
      runMax = math.max(runMax, t)
      if (runMax <= ts) answer = v else done = true
    }
    if (answer < 0)
      throw new IllegalArgumentException(
        s"no commit at or before timestamp $ts in $tablePath")
    answer
  }
}

object TxnLog {
  /** One `listStatus` of `_txn_log`, read into every fact a snapshot
    * needs: the commit files by version, and per checkpointed version its
    * physical file(s) — the single file when present, else the complete
    * part set (all n of `.i.n.parquet`; a crash mid-set leaves an ignored
    * incomplete set, never a torn read).
    */
  private[txn] final class Listing(
      val commits: scala.collection.immutable.SortedMap[Long, FileStatus],
      val checkpoints: scala.collection.immutable.SortedMap[Long, Seq[Path]]) {
    def versions: Seq[Long] = commits.keys.toSeq
    /** Newest checkpoint at or below `v`, -1 if none. */
    def checkpointAtOrBelow(v: Long): Long =
      checkpoints.rangeTo(v).lastOption.fold(-1L)(_._1)
  }

  /** A table's cached driver state: its newest resolved snapshot, the
    * (length, modification time) of that version's commit file, the
    * checkpoint the state was replayed from (-1: none), and the vector
    * masks loaded for it by (data file name, vector pointer).
    */
  private[txn] final class Cached(
      val snapshot: Snapshot,
      val status: (Long, Long),
      val base: Long,
      val vectors: Vectors) {
    /** The listing still shows this version's commit file unchanged. */
    def matches(l: Listing): Boolean =
      l.commits.get(snapshot.version).exists(stamp(_) == status)
  }

  /** Vector masks by (data file name, vector pointer): (kill version,
    * dead positions) per bitmap row of the vector.
    */
  private[txn] type Vectors = java.util.concurrent.ConcurrentHashMap[
    (String, String), Seq[(Long, org.roaringbitmap.longlong.Roaring64Bitmap)]]

  private[txn] def stamp(st: FileStatus): (Long, Long) =
    (st.getLen, st.getModificationTime)

  /** One softly referenced entry per qualified table path. */
  private[txn] val cache = new java.util.concurrent.ConcurrentHashMap[
    String, java.lang.ref.SoftReference[Cached]]()

  /** `from`'s masks of files `snap` still holds with the same vector. */
  private def carried(snap: Snapshot, from: Option[Cached]): Vectors = {
    val out: Vectors = new java.util.concurrent.ConcurrentHashMap()
    from.filterNot(_.vectors.isEmpty).foreach { c =>
      val keep = snap.files.iterator
        .flatMap(f => f.dv.map(new Path(f.path).getName -> _)).toSet
      c.vectors.forEach((k, v) => if (keep.contains(k)) out.put(k, v))
    }
    out
  }

  /** Drop the cached state of the table at `path` and of every table
    * under it: for paths whose logs are deleted or moved.
    */
  private[graft] def evictUnder(path: String, conf: Configuration): Unit = {
    val key = new TxnLog(path, conf).lockKey.stripSuffix("/")
    cache.keySet.removeIf(k => k == key || k.startsWith(key + "/"))
  }

  /** Checkpoint every N commits (Delta defaults to 10; same trade-off:
    * tail replay ≤ N commit files, checkpoint write amortized over N).
    */
  val DefaultCheckpointInterval = 10
  // Actions per checkpoint part before the writer splits into a
  // multi-part set (Delta's multi-part checkpoint idea): 100k action
  // lines ≈ a few hundred MB of JSON — comfortably one parquet buffer,
  // while a 5M-file table checkpoints as 50 parallel-readable parts.
  val DefaultCheckpointPartSize = 100000

  /** How long checkpoints retain remove tombstones and cdc references
    * (Delta's deletedFileRetentionDuration default): vacuum resolving
    * from checkpoint + tail sees every removal younger than this. A
    * vacuum with a LONGER retention window falls back to full log
    * replay (conservative, never unsafe).
    */
  val DefaultTombstoneRetentionMillis: Long = 7L * 24 * 3600 * 1000

  /** One commit lock per QUALIFIED table URI, JVM-wide (see
    * [[TxnLog.commit]]) — keyed by `fs.makeQualified(path).toUri`, never
    * the raw string, so path aliases share one lock.
    */
  private val commitLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()
  private def commitLockFor(qualifiedUri: String): Object =
    commitLocks.computeIfAbsent(qualifiedUri, _ => new Object)

  /** Protocol versions this engine understands (the Delta protocol-
    * action idea): a table whose log demands more must be REFUSED —
    * failing loudly beats silently misreading newer actions.
    * Version 2 = deletion vectors (AddFile.dv); a v1 reader would
    * resurrect DV-deleted rows, so DV commits demand Protocol(2, 2).
    */
  val SupportedReaderVersion = 2
  val SupportedWriterVersion = 2

  private[txn] def assertReadable(p: Protocol, tablePath: String): Unit =
    if (p.minReaderVersion > SupportedReaderVersion)
      throw new UnsupportedOperationException(
        s"table at $tablePath requires reader protocol " +
          s"${p.minReaderVersion}; this engine supports " +
          s"$SupportedReaderVersion — upgrade to read this table")

  /** Writer-side twin of [[assertReadable]]: an engine that commits to a
    * table whose protocol it doesn't fully implement can corrupt it
    * (e.g. compacting a DV file while ignoring the vector). Every
    * TableWriter mutation calls this on the snapshot it already loads.
    */
  /** Physical/metadata column name for stable row ids: synthesized by
    * the DSv2 reader as `baseRowId + position`, and MATERIALIZED under
    * this name by id-preserving rewrites (compaction) so ids survive
    * the file being rewritten.
    */
  val RowIdColumn = "_graft_row_id"

  /** Log-recorded data paths are table-relative, EXCEPT shallow-clone
    * imports, which are absolute (they live under the SOURCE table's
    * root). Every read site resolves through here.
    */
  private[graft] def isExternal(rel: String): Boolean =
    rel.startsWith("/") || rel.contains(":/")
  private[graft] def dataPath(tablePath: String, rel: String): String =
    if (isExternal(rel)) rel else s"$tablePath/$rel"

  private[graft] def assertWritable(s: Snapshot, tablePath: String): Unit =
    s.protocol.foreach { p =>
      if (p.minWriterVersion > SupportedWriterVersion)
        throw new UnsupportedOperationException(
          s"table at $tablePath requires writer protocol " +
            s"${p.minWriterVersion}; this engine supports " +
            s"$SupportedWriterVersion — writing could corrupt the table")
    }
}

/** Live state of the table at a version.
  * @param txnMarkers latest [[SetTxn]] per appId (full action, so
  *             `lastUpdated` survives checkpoint round-trips — a
  *             stale-marker expiry policy needs it) — the idempotence
  *             record COPY INTO / exactly-once sinks consult. Defaulted
  *             so pre-txn call sites and checkpoints read unchanged.
  */
final case class Snapshot(
    version: Long,
    files: Seq[AddFile],
    metadata: Option[Metadata],
    protocol: Option[Protocol] = None,
    txnMarkers: Map[String, SetTxn] = Map.empty) {

  /** appId → latest recorded version (the common lookup shape). */
  def txns: Map[String, Long] =
    txnMarkers.map { case (app, t) => app -> t.version }
}

package graft

import graft.txn._
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files

class TxnLogSpec extends AnyFunSuite {

  private def freshLog(): TxnLog = {
    val dir = Files.createTempDirectory("txnlog").toString
    new TxnLog(dir, new org.apache.hadoop.conf.Configuration())
  }

  test("commit/read round-trips every action type") {
    val log = freshLog()
    val actions = Seq(
      Metadata("""{"type":"struct","fields":[]}""", Seq("p")),
      AddFile("p=1/part-0.parquet", Map("p" -> "1"), 123L, 1000L, dataChange = true),
      RemoveFile("p=2/part-9.parquet", 2000L, Map("p" -> "2")),
      CommitInfo("WRITE", 1000L))
    log.commit(0L, actions)
    assert(log.read(0L) == actions)
    assert(log.versions() == Seq(0L))
  }

  test("double commit of the same version fails") {
    val log = freshLog()
    log.commit(0L, Seq(CommitInfo("WRITE", 1L)))
    intercept[IllegalStateException] { log.commit(0L, Seq(CommitInfo("WRITE", 2L))) }
  }

  test("snapshot replays adds minus removes across versions") {
    val log = freshLog()
    log.commit(0L, Seq(
      AddFile("a.parquet", Map.empty, 1, 10L, dataChange = true),
      AddFile("b.parquet", Map.empty, 1, 10L, dataChange = true),
      CommitInfo("WRITE", 10L)))
    log.commit(1L, Seq(
      RemoveFile("a.parquet", 20L, Map.empty),
      AddFile("c.parquet", Map.empty, 1, 20L, dataChange = true),
      CommitInfo("MERGE", 20L)))
    assert(log.snapshot(0L).files.map(_.path).sorted == Seq("a.parquet", "b.parquet"))
    assert(log.snapshot(1L).files.map(_.path).sorted == Seq("b.parquet", "c.parquet"))
    assert(log.snapshotLatest().version == 1L)
  }

  test("timestamp-as-of picks greatest commit at-or-before, errors before first") {
    val log = freshLog()
    log.commit(0L, Seq(CommitInfo("WRITE", 100L)))
    log.commit(1L, Seq(CommitInfo("WRITE", 200L)))
    assert(log.versionAtTimestamp(100L) == 0L)
    assert(log.versionAtTimestamp(150L) == 0L)
    assert(log.versionAtTimestamp(999L) == 1L)
    intercept[IllegalArgumentException] { log.versionAtTimestamp(99L) }
  }

  test("timestamp-as-of MONOTONIZES skewed clocks (Delta's adjusted-" +
      "timestamp rule) and reads only the prefix up to the answer") {
    val log = freshLog()
    // v2's clock is skewed BACKWARD: effective times are 100, 500, 500
    log.commit(0L, Seq(CommitInfo("WRITE", 100L)))
    log.commit(1L, Seq(CommitInfo("WRITE", 500L)))
    log.commit(2L, Seq(CommitInfo("WRITE", 200L)))
    log.commit(3L, Seq(CommitInfo("WRITE", 900L)))
    // a later version must never resolve for an earlier instant: 300 is
    // before v1's effective time, so the answer is v0 — NOT the skewed v2
    assert(log.versionAtTimestamp(300L) == 0L)
    assert(log.versionAtTimestamp(500L) == 2L,
      "clamped v2 (effective 500) is the greatest at-or-before 500")
    assert(log.versionAtTimestamp(899L) == 2L)
    assert(log.versionAtTimestamp(900L) == 3L)
    // bounded: resolving an early instant must not read the whole log
    val reader = new TxnLog(log.tablePath,
      SparkTestSession.spark.sessionState.newHadoopConf())
    assert(reader.versionAtTimestamp(100L) == 0L)
    assert(reader.commitReads <= 2,
      s"early-instant resolution read ${reader.commitReads} commits")
    // DESCRIBE HISTORY LIMIT: newest-first, reads only N commits
    val hreader = new TxnLog(log.tablePath,
      SparkTestSession.spark.sessionState.newHadoopConf())
    val h = hreader.history(limit = 2)
    assert(h.map(_._1) == Seq(3L, 2L))
    assert(hreader.commitReads == 2,
      s"history(2) read ${hreader.commitReads} commits")
  }

  test("missing version errors (strict, no silent fallback)") {
    val log = freshLog()
    intercept[IllegalArgumentException] { log.snapshot(0L) }
  }

  test("truncated commit files are rejected, never silently prefix-read") {
    val log = freshLog()
    log.commit(0L, Seq(
      AddFile("a.parquet", Map.empty, 1, 10L, dataChange = true),
      AddFile("b.parquet", Map.empty, 1, 10L, dataChange = true),
      CommitInfo("WRITE", 10L)))
    val f = new java.io.File(log.tablePath, "_txn_log/00000000000000000000.json")
    val full = java.nio.file.Files.readAllBytes(f.toPath)
    // truncate ON a line boundary (drop the CommitInfo terminator line):
    // a prefix read here would silently lose rows — must throw instead
    val boundary = new String(full, "UTF-8").split('\n').init.init
      .mkString("", "\n", "\n").getBytes("UTF-8")
    java.nio.file.Files.write(f.toPath, boundary)
    val e1 = intercept[IllegalStateException] { log.read(0L) }
    assert(e1.getMessage.contains("incomplete"))
    // truncate MID-line: unparseable tail must also throw, not crash-loop
    java.nio.file.Files.write(f.toPath, full.dropRight(7))
    intercept[IllegalStateException] { log.read(0L) }
    // restore → reads again
    java.nio.file.Files.write(f.toPath, full)
    assert(log.read(0L).size == 3)
  }

  test("protocol guard: newer-engine tables are refused, not misread") {
    val log = freshLog()
    log.commit(0L, Seq(
      AddFile("a.parquet", Map.empty, 1, 10L, dataChange = true),
      CommitInfo("WRITE", 10L)))
    // a supported protocol passes and is carried on the snapshot
    log.commit(1L, Seq(Protocol(1, 1), CommitInfo("UPGRADE", 20L)))
    assert(log.snapshotLatest().protocol.contains(Protocol(1, 1)))
    // a future protocol makes every snapshot read fail loudly
    log.commit(2L, Seq(Protocol(99, 99), CommitInfo("UPGRADE", 30L)))
    val e = intercept[UnsupportedOperationException] { log.snapshotLatest() }
    assert(e.getMessage.contains("reader protocol 99"))
    // time travel BEFORE the upgrade still works
    assert(log.snapshot(1L).files.map(_.path) == Seq("a.parquet"))
  }

  test("protocol survives parquet checkpoints") {
    val dir = Files.createTempDirectory("txnlog_proto").toString
    val log = new TxnLog(dir, new org.apache.hadoop.conf.Configuration(),
      checkpointInterval = 2)
    log.commit(0L, Seq(
      AddFile("a.parquet", Map.empty, 1, 10L, dataChange = true),
      Protocol(1, 1), CommitInfo("WRITE", 10L)))
    (1 to 4).foreach { v =>
      log.commit(v.toLong, Seq(
        AddFile(s"f$v.parquet", Map.empty, 1, 10L, dataChange = true),
        CommitInfo("WRITE", 10L + v)))
    }
    assert(log.checkpointVersions().nonEmpty)
    // a fresh log instance resolving from the checkpoint keeps the guard
    val log2 = new TxnLog(dir, new org.apache.hadoop.conf.Configuration(),
      checkpointInterval = 2)
    assert(log2.snapshotLatest().protocol.contains(Protocol(1, 1)))
  }

  test("commits without CommitInfo get a synthesized terminator") {
    val log = freshLog()
    log.commit(0L, Seq(
      AddFile("a.parquet", Map.empty, 1, 10L, dataChange = true)))
    val got = log.read(0L)
    assert(got.head == AddFile("a.parquet", Map.empty, 1, 10L, dataChange = true))
    assert(got.last.isInstanceOf[CommitInfo])
  }

  test("checkpointed snapshot reads checkpoint + tail, not the whole log") {
    val dir = java.nio.file.Files.createTempDirectory("txn_cp").toString
    val conf = new org.apache.hadoop.conf.Configuration()
    val log = new TxnLog(dir, conf) // default interval 10
    val n = 200
    (0 until n).foreach { v =>
      val actions = Seq[Action](
        AddFile(s"part-$v.parquet", Map.empty, 10L, 1000L + v, dataChange = true)) ++
        (if (v % 3 == 0 && v > 0) Seq(RemoveFile(s"part-${v - 1}.parquet", 2000L + v, Map.empty))
         else Seq.empty) :+ CommitInfo("WRITE", 1000L + v)
      log.commit(v.toLong, actions)
    }
    assert(log.checkpointVersions().nonEmpty)
    // a cold reader (the table's cached state dropped) resolves the
    // snapshot from checkpoint + ≤ 10 tail commits
    val reader = new TxnLog(dir, conf)
    reader.evictCached()
    val snap = reader.snapshot(199L)
    assert(reader.commitReads <= log.checkpointInterval + 1,
      s"snapshot read ${reader.commitReads} commit files")
    // and the state it built serves the next read without a commit read
    val warm = new TxnLog(dir, conf)
    assert(warm.snapshot(199L) == snap && warm.commitReads == 0)
    // state identical to a full no-checkpoint replay
    val noCp = new TxnLog(java.nio.file.Files.createTempDirectory("txn_nocp").toString,
      conf, checkpointInterval = 0)
    (0 until n).foreach { v =>
      val actions = Seq[Action](
        AddFile(s"part-$v.parquet", Map.empty, 10L, 1000L + v, dataChange = true)) ++
        (if (v % 3 == 0 && v > 0) Seq(RemoveFile(s"part-${v - 1}.parquet", 2000L + v, Map.empty))
         else Seq.empty) :+ CommitInfo("WRITE", 1000L + v)
      noCp.commit(v.toLong, actions)
    }
    val want = noCp.snapshot(199L)
    assert(snap.version == want.version)
    assert(snap.files.map(_.path) == want.files.map(_.path))
    assert(snap.metadata == want.metadata)
    // mid-log time travel between checkpoints also matches
    val mid = new TxnLog(dir, conf).snapshot(97L)
    assert(mid.files.map(_.path) == noCp.snapshot(97L).files.map(_.path))
  }

  // Seeded exhaustive-ish property checks over the small offset lattice
  // (2 phases × 6 versions × 7 fileIndexes × 7 rowNums = 588 points).
  private val lattice: Seq[CdcOffset] = for {
    p <- 0 to 1; v <- 0L to 5L; f <- -1L to 5L; r <- -1L to 5L
  } yield CdcOffset(p, v, f, r)

  test("offset ordering is a total order (antisymmetric, transitive)") {
    val rnd = new scala.util.Random(42)
    val sample = Seq.fill(3000)(lattice(rnd.nextInt(lattice.size)))
    sample.grouped(3).foreach {
      case Seq(a, b, c) =>
        assert(math.signum(a.compare(b)) == -math.signum(b.compare(a)))
        if (a <= b && b <= c) assert(a <= c)
        assert((a.compare(b) == 0) == (a == b))
      case _ => ()
    }
  }

  test("full-copy phase precedes incremental at any position") {
    val fulls = lattice.filter(_.phase == 0)
    val incrs = lattice.filter(_.phase == 1).take(60)
    assert(fulls.nonEmpty && incrs.nonEmpty)
    for (a <- fulls; b <- incrs) assert(a < b)
  }

  test("offset JSON round-trips across the lattice") {
    lattice.foreach(o => assert(CdcOffset.fromJson(o.json) == o))
  }

  test("racing writers: one winner per version, log stays readable") {
    // 8 real threads, each landing 20 commits via optimistic retry — the
    // create(overwrite=false) mutual exclusion and the terminator-gated
    // reads must hold under genuine contention, not just in sequence
    val dir = Files.createTempDirectory("txnlog_race").toString
    // path ALIASES of the same table — the lock is keyed by qualified
    // URI, so a trailing slash or file: scheme must take the SAME lock
    // (raw-string keys would reopen the check-then-create race)
    val aliases = Seq(dir, dir + "/", "file:" + dir)
    val writers = 8
    val perWriter = 20
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = (0 until writers).map { w =>
      new Thread(() => {
        try {
          // one TxnLog per thread (the instance itself is not shared)
          val log = new TxnLog(aliases(w % aliases.size),
            new org.apache.hadoop.conf.Configuration())
          var landed = 0
          while (landed < perWriter) {
            val v = log.latestVersion().map(_ + 1).getOrElse(0L)
            try {
              log.commit(v, Seq(
                AddFile(s"part-w$w-$landed.parquet", Map.empty, 1L, v,
                  dataChange = true),
                CommitInfo(s"w$w-$landed", v)))
              landed += 1
            } catch {
              case e: IllegalStateException
                if e.getMessage.contains("concurrent") => () // lost; retry
            }
          }
        } catch { case t: Throwable => errors.add(t) }
      })
    }
    threads.foreach(_.start())
    threads.foreach(_.join(120000))
    assert(errors.isEmpty, s"writer died: ${errors.peek()}")
    val log = new TxnLog(dir, new org.apache.hadoop.conf.Configuration())
    val vs = log.versions()
    // contiguous versions, one per landed commit, no gaps or dupes
    assert(vs == (0L until (writers.toLong * perWriter)))
    // every commit is complete and single-authored; all 160 authors distinct
    val ops = vs.flatMap(v => log.read(v).collect {
      case c: CommitInfo => c.operation
    })
    assert(ops.size == writers * perWriter)
    assert(ops.distinct.size == ops.size)
    // the replayed snapshot holds exactly one file per commit
    assert(log.snapshotLatest().files.size == writers * perWriter)
  }
}

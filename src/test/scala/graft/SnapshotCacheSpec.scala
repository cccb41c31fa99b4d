package graft

import graft.txn._
import org.apache.hadoop.conf.Configuration
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Paths}
import scala.util.Random

/** The cached driver state of a table equals a cold replay of the log,
  * file order included, over seeded histories: appends, copy-on-write
  * rewrites, vector transitions (remove and re-add: the file moves last),
  * in-place re-adds (the file keeps its place), metadata and txn markers,
  * checkpoints every three commits split into parts of four actions,
  * `expireLog`, commits from a second `TxnLog` instance, and the table
  * dropped and re-created at the same path with commits of the same
  * length but other file names. After every commit, `snapshotLatest` and
  * time travel to a random retained version are compared with a replay of
  * a copy of the log at a fresh path, which no cache entry knows.
  */
class SnapshotCacheSpec extends AnyFunSuite {

  private val conf = new Configuration()

  private def cold(dir: String, v: Long): Snapshot = {
    val copy = Files.createTempDirectory("cold_replay")
    val dst = Files.createDirectory(copy.resolve("_txn_log"))
    val files = Files.list(Paths.get(dir, "_txn_log"))
    try files.forEach(f => Files.copy(f, dst.resolve(f.getFileName)))
    finally files.close()
    new TxnLog(copy.toString, conf).snapshot(v)
  }

  private final class History(seed: Int) {
    private val rnd = new Random(seed)
    val dir: String = Files.createTempDirectory(s"snapcache$seed").toString
    def log(): TxnLog = new TxnLog(dir, conf, checkpointInterval = 3,
      checkpointPartSize = 4)
    private val a = log()
    private val b = log() // a second writer and reader of the same table
    private var live = Vector.empty[String]
    private var next = 0
    private var ts = 1000L
    /** every commit so far, to re-create the table with */
    val commits = scala.collection.mutable.ArrayBuffer.empty[Seq[Action]]

    private def fresh(): String = { next += 1; f"p=0/f-$next%05d.parquet" }
    private def add(p: String, size: Long = 100L, dv: Option[String] = None) =
      AddFile(p, Map("p" -> "0"), size, ts, dataChange = true, dv = dv)
    private def pick(): String = live(rnd.nextInt(live.size))

    private def actions(v: Long): Seq[Action] = {
      ts += 10
      val body: Seq[Action] =
        if (v == 0) Seq(Metadata("""{"type":"struct","fields":[]}""", Seq("p")),
          add(fresh()), add(fresh()))
        else if (live.isEmpty) Seq(add(fresh()))
        else rnd.nextInt(6) match {
          case 0 => Seq.fill(1 + rnd.nextInt(3))(add(fresh()))
          case 1 => val p = pick()
            Seq(RemoveFile(p, ts, Map("p" -> "0")), add(fresh()))
          case 2 => val p = pick() // a vector transition: moves last
            Seq(RemoveFile(p, ts, Map("p" -> "0")),
              add(p, dv = Some(f"_dv/dv-$v%05d")))
          case 3 => Seq(add(pick(), size = 100L + v)) // keeps its place
          case 4 => Seq(SetTxn(s"app${rnd.nextInt(3)}", v, ts),
            Metadata("""{"type":"struct","fields":[]}""", Seq("p"),
              properties = Map("v" -> v.toString)))
          case _ => Seq(RemoveFile(pick(), ts, Map("p" -> "0")))
        }
      body :+ CommitInfo("WRITE", ts)
    }

    private def track(acts: Seq[Action]): Unit = acts.foreach {
      case f: AddFile => if (!live.contains(f.path)) live :+= f.path
      case r: RemoveFile => live = live.filterNot(_ == r.path)
      case _ => ()
    }

    def commit(v: Long): Unit = {
      val acts = actions(v)
      (if (rnd.nextInt(3) == 0) b else a).commit(v, acts)
      track(acts)
      commits += acts
    }

    /** Both instances' latest and a random retained version equal a
      * cold replay.
      */
    def check(v: Long): Unit = {
      val reader = if (rnd.nextBoolean()) a else b
      assert(reader.snapshotLatest() == cold(dir, v), s"seed $seed, latest v$v")
      val vs = reader.versions()
      val u = vs(rnd.nextInt(vs.size))
      assert(reader.snapshot(u) == cold(dir, u), s"seed $seed, v$u of $v")
      assert(reader.snapshot(v) == cold(dir, v), s"seed $seed, back at v$v")
    }

    def expire(): Unit = { a.expireLog(retainMillis = 30L, nowMillis = ts); () }

    /** Drop the table and put in its place one whose commits are the
      * same under other file names of the same length, checkpoints at the
      * same versions included: every commit file keeps its length, so
      * only a commit's modification time tells the two tables apart.
      */
    def recreate(): Unit = {
      val other = Files.createTempDirectory("incarnation").toString
      val w = new TxnLog(other, conf, checkpointInterval = 3,
        checkpointPartSize = 4)
      def renamed(p: String) = p.replace("/f-", "/g-")
      commits.toSeq.zipWithIndex.foreach { case (acts, v) =>
        w.commit(v.toLong, acts.map {
          case f: AddFile => f.copy(path = renamed(f.path))
          case r: RemoveFile => r.copy(path = renamed(r.path))
          case other => other
        })
      }
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
      org.apache.commons.io.FileUtils.copyDirectory(new java.io.File(other),
        new java.io.File(dir), false)
    }

    def commitLength(v: Long): Long =
      new java.io.File(dir, f"_txn_log/$v%020d.json").length()
  }

  for (seed <- 1 to 6) {
    test(s"seed $seed: cached snapshots equal a cold replay, in order") {
      val h = new History(seed)
      (0L until 24L).foreach { v =>
        h.commit(v)
        h.check(v)
        if (v == 12L) { h.expire(); h.check(v) }
        if (v == 17L) {
          assert(h.log().versions().head > 0L, "expireLog dropped a prefix")
        }
      }
      h.check(23L)
      val before = h.log().snapshotLatest()
      val length = h.commitLength(23L)
      h.recreate()
      assert(h.commitLength(23L) == length)
      val after = h.log().snapshotLatest()
      assert(after.files.map(_.path) ==
        before.files.map(_.path.replace("/f-", "/g-")), "the re-created table")
      assert(after == cold(h.dir, 23L))
      h.check(23L)
    }
  }

  test("the cache sees a multi-part checkpoint and keeps advancing from it") {
    val h = new History(99)
    (0L until 10L).foreach(h.commit)
    val l = h.log()
    assert(l.checkpointVersions() == Seq(3L, 6L, 9L))
    assert(new java.io.File(h.dir, "_txn_log").list()
      .exists(_.matches("""\d{20}\.checkpoint\.\d{10}\.\d{10}\.parquet""")),
      "checkpoints of more than four actions split into parts")
    l.evictCached()
    assert(l.snapshot(9L) == cold(h.dir, 9L))
    val reads = l.commitReads
    h.commit(10L)
    assert(l.snapshot(10L) == cold(h.dir, 10L))
    assert(l.commitReads == reads + 1, "advancing reads only the new commit")
  }
}

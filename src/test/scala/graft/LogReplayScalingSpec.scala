package graft

import graft.txn._
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files

/** Log replay is linear in the files it replays: a commit of n AddFiles,
  * and a checkpoint of n, replay into a snapshot with twice the files in
  * at most 2.5× the time (an insertion-ordered map rebuilt per action is
  * quadratic: 4× and worse at these sizes). Timings are the median of
  * three runs after one warm-up, the two sizes taking turns. The replay
  * keeps the log's file order.
  */
class LogReplayScalingSpec extends AnyFunSuite {

  private val Small = 20000
  private val Large = 40000

  private def adds(n: Int): Seq[AddFile] = (0 until n).map(i =>
    AddFile(f"p=${i % 7}/part-$i%06d.parquet", Map("p" -> (i % 7).toString),
      1000L + i, 10L, dataChange = true))

  /** A log whose version 0 holds `n` AddFiles, checkpointed or not. */
  private def log(n: Int, checkpoint: Boolean): TxnLog = {
    val dir = Files.createTempDirectory("replay").toString
    val log = new TxnLog(dir, new org.apache.hadoop.conf.Configuration())
    log.commit(0L, Metadata("""{"type":"struct","fields":[]}""", Seq("p")) +:
      adds(n) :+ CommitInfo("WRITE", 10L))
    if (checkpoint) log.writeCheckpoint(0L)
    log
  }

  private def replayMillis(l: TxnLog, n: Int): Double = {
    val t0 = System.nanoTime()
    val snap = l.snapshot(0L)
    val ms = (System.nanoTime() - t0) / 1e6
    assert(snap.files.size == n)
    ms
  }

  private def median(xs: Seq[Double]): Double = xs.sorted.apply(xs.size / 2)

  for (checkpoint <- Seq(false, true)) {
    val source = if (checkpoint) "a checkpoint" else "a commit"
    test(s"replaying $source of n files is linear in n") {
      val small = log(Small, checkpoint)
      val large = log(Large, checkpoint)
      assert(checkpoint == new TxnLog(large.tablePath,
        new org.apache.hadoop.conf.Configuration()).checkpointVersions()
        .nonEmpty)
      replayMillis(small, Small)
      replayMillis(large, Large)
      val runs = (1 to 3).map(_ =>
        (replayMillis(small, Small), replayMillis(large, Large)))
      val (s, l) = (median(runs.map(_._1)), median(runs.map(_._2)))
      info(f"$source: $Small files $s%.0f ms, $Large files $l%.0f ms")
      assert(l <= 2.5 * s, f"2x the files took ${l / s}%.2fx the time")
    }
  }

  test("replay keeps the log's file order") {
    val dir = Files.createTempDirectory("replay_order").toString
    val l = new TxnLog(dir, new org.apache.hadoop.conf.Configuration())
    def add(p: String) = AddFile(p, Map.empty, 1L, 10L, dataChange = true)
    l.commit(0L, Seq(add("c"), add("a"), add("b"), CommitInfo("WRITE", 10L)))
    // "a" is replaced in place; "c" is removed and added back, last
    l.commit(1L, Seq(add("a").copy(size = 2L), RemoveFile("c", 20L, Map.empty),
      add("d"), CommitInfo("WRITE", 20L)))
    l.commit(2L, Seq(add("c"), CommitInfo("WRITE", 30L)))
    assert(l.snapshot(2L).files.map(f => (f.path, f.size)) ==
      Seq(("a", 2L), ("b", 1L), ("d", 1L), ("c", 1L)))
    l.writeCheckpoint(2L)
    l.commit(3L, Seq(add("e"), CommitInfo("WRITE", 40L)))
    assert(new TxnLog(dir, new org.apache.hadoop.conf.Configuration())
      .snapshot(3L).files.map(_.path) == Seq("a", "b", "d", "c", "e"))
  }
}

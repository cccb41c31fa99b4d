package graft.sources

import graft.streaming.GraftTableSink
import graft.txn._
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

/** The filesystem calls of one small append, counted on `mockfs://`: the
  * data files land once, at their final names, with their stats read in
  * the write tasks (no rename, no `.staging-*` directory, no data-file
  * open on the driver), and the append reads the log once. The log
  * counts are exact: a second snapshot replay or a re-read of the
  * table's metadata shows as more `_txn_log` listings and opens.
  */
class CommitFileCountSpec extends AnyFunSuite {
  import graft.SparkTestSession._

  private lazy val scheme: Unit =
    spark.sparkContext.hadoopConfiguration.set(
      "fs.mockfs.impl", classOf[CountingMockFs].getName)

  private def freshTable(): String = {
    scheme
    val p = java.nio.file.Files.createTempDirectory("mockfs_commit")
    java.nio.file.Files.delete(p)
    s"mockfs://$p"
  }

  private def rows(from: Long, until: Long): DataFrame =
    spark.range(from, until, 1L, 2).selectExpr("id", "CAST(id % 4 AS INT) AS p")

  private case class Counts(renames: Int, driverDataOpens: Int,
      staging: Int, logLists: Int, logOpens: Int)

  private def counted(body: => Unit): Counts = {
    import CountingMockFs._
    def now = Counts(renames.get(), driverDataOpens.get(),
      stagingCreates.get(), driverLogLists.get(),
      driverOpens.get() - driverDataOpens.get())
    val before = now
    body
    val after = now
    Counts(after.renames - before.renames,
      after.driverDataOpens - before.driverDataOpens,
      after.staging - before.staging, after.logLists - before.logLists,
      after.logOpens - before.logOpens)
  }

  private def assertDirect(c: Counts): Unit = {
    assert(c.renames == 0, s"no data file may be renamed: $c")
    assert(c.driverDataOpens == 0, s"no footer may be re-read on the driver: $c")
    assert(c.staging == 0, s"no .staging-* path may be created: $c")
  }

  test("one TableWriter.append: no rename, no staging, no driver footer " +
      "read, one snapshot replay") {
    val t = freshTable()
    TableWriter.write(spark, rows(0L, 400L), t, Seq("p"), version = 0L,
      commitTs = 1000L)
    TableWriter.append(spark, rows(400L, 500L), t, Seq("p"), commitTs = 2000L)
    val c = counted(TableWriter.append(spark, rows(500L, 600L), t, Seq("p"),
      commitTs = 3000L))
    info(s"append: $c")
    assertDirect(c)
    // latestVersion, the snapshot's version and checkpoint listings, and
    // the commit's row-id mark lookup
    assert(c.logLists == 4, c)
    // the replay reads v0 and v1; the commit reads v1's row-id mark
    assert(c.logOpens == 3, c)
    assert(SnapshotReader.read(spark, t).count() == 600L)
  }

  test("one GraftTableSink.commitBatch: no rename, no staging, no driver " +
      "footer read, one snapshot replay") {
    val t = freshTable()
    TableWriter.write(spark, rows(0L, 400L), t, Seq("p"), version = 0L,
      commitTs = 1000L)
    assert(GraftTableSink.commitBatch(rows(400L, 500L), t, 0L, Seq("p"), 2000L))
    val c = counted(assert(
      GraftTableSink.commitBatch(rows(500L, 600L), t, 1L, Seq("p"), 3000L)))
    info(s"commitBatch: $c")
    assertDirect(c)
    // the marker check's listing, the snapshot's two and the commit's
    // row-id mark lookup
    assert(c.logLists == 4, c)
    // the marker check reads v1; the replay v0 and v1; the commit v1's
    // row-id mark
    assert(c.logOpens == 4, c)
    assert(SnapshotReader.read(spark, t).count() == 600L)
    assert(!GraftTableSink.commitBatch(rows(500L, 600L), t, 1L, Seq("p")),
      "a replayed batch is skipped")
  }
}

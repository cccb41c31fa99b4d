package graft.sources

import graft.SparkTestSession
import graft.txn._
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.expr
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

/** The change rows SQL DML writes in its own tasks ([[ChangeRows]]),
  * checked against rows computed by hand through every feed reader:
  * `ChangeDataFeed.tableChanges` and the `graft-cdf` stream, which read
  * the sidecars, and `CdcReader.cdc`, which derives its events from the
  * deletion vectors and the new files instead. The tables carry nulls,
  * a decimal and a timestamp, split over three partitions.
  *
  * Also: a partition-filtered feed read opens only the matching
  * sidecars; a merge-on-read UPDATE whose commit loses a race renames
  * its sidecars to the version it lands at, so vacuum keeps them while
  * that commit is in the log; and a statement whose task fails after
  * writing change rows leaves neither an action nor a file behind.
  */
class ChangeRowsSpec extends AnyFunSuite {
  import SparkTestSession._
  import ChangeDataFeed.{Delete, Insert, UpdatePost, UpdatePre}

  private lazy val wh: String = {
    spark.sparkContext.hadoopConfiguration.set(
      "fs.probefs.impl", classOf[ProbeFs].getName)
    val dir = s"probefs://${java.nio.file.Files.createTempDirectory("crs_wh")}"
    spark.conf.set("spark.sql.catalog.gcrs", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gcrs.warehouse", dir)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gcrs.default")
    dir
  }

  private def path(t: String) = s"$wh/default/$t"
  private def log(t: String) =
    new TxnLog(path(t), spark.sessionState.newHadoopConf())

  /** `(k, p, v, note, amt, at)`, the timestamp in microseconds. */
  private type Row6 =
    (Long, Int, Long, Option[String], Option[BigDecimal], Option[Long])
  private type Change = (String, Row6)

  private def dec(d: BigDecimal): BigDecimal = d.setScale(2)

  /** The row of key `k` as the tables are filled. */
  private def base(k: Long): Row6 = ((k, (k % 3).toInt, 10L * k,
    if (k % 5 == 0) None else Some(s"n$k"),
    if (k % 7 == 0) None else Some(dec(BigDecimal(k) * BigDecimal("1.25"))),
    if (k % 4 == 0) None else Some(1700000000000000L + k * 1000001L)))

  /** `base(k)` for every k of `keys`, in one Spark partition. */
  private def rows(keys: Range): DataFrame =
    spark.range(keys.start, keys.end, 1L, 1).selectExpr("id AS k",
      "CAST(id % 3 AS INT) AS p", "id * 10 AS v",
      "IF(id % 5 = 0, NULL, CONCAT('n', id)) AS note",
      "IF(id % 7 = 0, NULL, CAST(id * 1.25 AS DECIMAL(10,2))) AS amt",
      "IF(id % 4 = 0, NULL, TIMESTAMP_MICROS(1700000000000000 + " +
        "id * 1000001)) AS at")

  /** Table `t` of `base(k)` for k in 0..29, change feed on: one file per
    * partition, or one file when unpartitioned.
    */
  private def freshTable(t: String, partitioned: Boolean = true): String = {
    wh
    spark.sql(
      s"""CREATE TABLE gcrs.default.$t (k BIGINT, p INT, v BIGINT,
         |  note STRING, amt DECIMAL(10,2), at TIMESTAMP)
         |${if (partitioned) "PARTITIONED BY (p)" else ""}
         |TBLPROPERTIES ('graft.enableChangeDataFeed'='true')""".stripMargin)
    rows(0 until 30).createOrReplaceTempView(s"crs_$t")
    spark.sql(s"INSERT INTO gcrs.default.$t SELECT * FROM crs_$t")
    path(t)
  }

  /** `df`'s rows as sorted `(kind, row)` pairs, the kind from `kindCol`. */
  private def changes(df: DataFrame, kindCol: String): Seq[Change] =
    df.selectExpr("k", "p", "v", "note", "amt", "unix_micros(at)",
        s"`$kindCol`").collect().map { r =>
      (r.getString(6), (r.getLong(0), r.getInt(1), r.getLong(2),
        Option(r.getString(3)), Option(r.getDecimal(4)).map(d => dec(d)),
        if (r.isNullAt(5)) None else Some(r.getLong(5))))
    }.toSeq.sorted

  private def table(t: String): Seq[Row6] =
    changes(spark.sql(s"SELECT *, 'row' AS kind FROM gcrs.default.$t"),
      "kind").map(_._2)

  private def drain(df: DataFrame, name: String): DataFrame = {
    val q = df.writeStream.format("memory").queryName(name)
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory(name).toString)
      .start()
    try q.awaitTermination() finally q.stop()
    spark.table(name)
  }

  /** Version `v` of `t` (its newest) through every feed reader must give
    * exactly `want`: the sidecar readers with their change types,
    * `CdcReader.cdc` as a 'd' event per row the version killed and a 'c'
    * event per row it added.
    */
  private def assertFeeds(t: String, v: Long, want: Seq[Change]): Unit = {
    assert(changes(ChangeDataFeed.tableChanges(spark, path(t), v, Some(v)),
      ChangeDataFeed.TypeCol) == want.sorted, "tableChanges")
    val stream = drain(spark.readStream.format("graft-cdf")
      .option("tablePath", path(t)).option("startingVersion", v.toString)
      .load(), s"crs_cdf_$t")
    assert(changes(stream, ChangeDataFeed.TypeCol) == want.sorted, "graft-cdf")
    val events = want.map {
      case (Delete | UpdatePre, r) => ("d", r)
      case (_, r) => ("c", r)
    }
    assert(changes(CdcReader.cdc(spark, path(t), startingVersion = v - 1,
      includeHistory = false, endingVersion = Some(v)), "op") == events.sorted,
      "CdcReader.cdc")
  }

  private def sidecars(t: String, v: Long): Seq[CdcFile] =
    log(t).read(v).collect { case c: CdcFile => c }

  test("SQL MERGE with a matched DELETE, a matched UPDATE and a " +
      "not-matched INSERT over three partitions: exact change rows in " +
      "every feed reader; a partition-filtered read opens only that " +
      "partition's sidecars") {
    freshTable("m")
    spark.sql("SELECT * FROM VALUES (3L, 0, -1L), (4L, 1, -1L), " +
      "(5L, 2, 555L), (7L, 1, 777L), (9L, 0, 999L), (100L, 1, 1000L), " +
      "(101L, 2, 1010L), (102L, 0, 1020L) AS s(k, p, v)")
      .createOrReplaceTempView("crs_src")
    spark.sql(
      """MERGE INTO gcrs.default.m t USING crs_src s ON t.k = s.k
        |WHEN MATCHED AND s.v < 0 THEN DELETE
        |WHEN MATCHED THEN UPDATE SET t.v = s.v, t.note = 'merged'
        |WHEN NOT MATCHED THEN INSERT (k, p, v, note, amt, at)
        |  VALUES (s.k, s.p, s.v, NULL, CAST(s.v / 100 AS DECIMAL(10,2)),
        |    TIMESTAMP_MICROS(1800000000000000 + s.k))""".stripMargin)
    val v = log("m").latestVersion().get
    val deleted = Seq(3L, 4L).map(base)
    val pre = Seq(5L, 7L, 9L).map(base)
    val post = Seq(5L -> 555L, 7L -> 777L, 9L -> 999L).map { case (k, nv) =>
      base(k).copy(_3 = nv, _4 = Some("merged")) }
    val inserted = Seq((100L, 1, 1000L), (101L, 2, 1010L), (102L, 0, 1020L))
      .map { case (k, p, nv) =>
        (k, p, nv, None, Some(dec(BigDecimal(nv) / 100)),
          Some(1800000000000000L + k)) }
    assert(table("m") ==
      ((0L until 30L).map(base).diff(deleted ++ pre) ++ post ++ inserted).sorted)
    val want = deleted.map(Delete -> _) ++ pre.map(UpdatePre -> _) ++
      post.map(UpdatePost -> _) ++ inserted.map(Insert -> _)
    assertFeeds("m", v, want)

    val written = sidecars("m", v)
    info(s"MERGE: ${written.size} sidecars")
    assert(written.map(_.partitionValues("p")).toSet == Set("0", "1", "2"))
    val inP1 = written.filter(_.partitionValues("p") == "1")
      .map(c => new Path(c.path).getName).toSet
    ProbeFs.opened.clear()
    val p1 = changes(ChangeDataFeed.tableChanges(spark, path("m"), v, Some(v),
      partitionFilter = Some(Map("p" -> "1"))), ChangeDataFeed.TypeCol)
    val opened = ProbeFs.opened.asScala.filter(_.contains("/_change_data/"))
      .map(s => new Path(s).getName).toSet
    assert(opened.nonEmpty && opened.subsetOf(inP1),
      s"opened ${opened.mkString(", ")}; p = 1 holds ${inP1.mkString(", ")}")
    assert(p1 == want.filter(_._2._2 == 1).sorted)
  }

  test("SQL UPDATE of rows with nulls, a decimal and a timestamp: exact " +
      "pre- and post-images in every feed reader") {
    freshTable("u")
    spark.sql("UPDATE gcrs.default.u SET amt = amt + 1, " +
      "at = at + INTERVAL 1 SECOND, note = upper(note) " +
      "WHERE k IN (10, 14, 20, 21, 28)")
    val keys = Seq(10L, 14L, 20L, 21L, 28L)
    val pre = keys.map(base)
    val post = pre.map(r => r.copy(_4 = r._4.map(_.toUpperCase),
      _5 = r._5.map(a => dec(a + 1)), _6 = r._6.map(_ + 1000000L)))
    // every null kind is among the updated rows
    assert(Seq(pre.map(_._4), pre.map(_._5), pre.map(_._6))
      .forall(c => c.contains(None) && c.exists(_.isDefined)))
    assert(table("u") == ((0L until 30L).map(base).diff(pre) ++ post).sorted)
    val v = log("u").latestVersion().get
    info(s"UPDATE: ${sidecars("u", v).size} sidecars")
    assertFeeds("u", v, pre.map(UpdatePre -> _) ++ post.map(UpdatePost -> _))
  }

  test("a merge-on-read UPDATE that loses its commit race to an append " +
      "lands with its sidecars named for its version; vacuum keeps them " +
      "while that commit is in the log") {
    val p = freshTable("r")
    val bound = log("r").latestVersion().get
    // the append takes version bound + 1 the moment the UPDATE first
    // tries to commit there; its keys lie outside the UPDATE's predicate
    ProbeFs.loseRace(p, bound + 1)(
      TableWriter.append(spark, rows(1000 until 1003), p, Seq("p")))
    spark.sql("UPDATE gcrs.default.r SET v = v + 1 WHERE k IN (4, 9)")
    assert(!ProbeFs.armed, "the UPDATE must have raced the append")
    val l = log("r")
    assert(l.latestVersion().contains(bound + 2))
    assert(!l.read(bound + 1).exists(_.isInstanceOf[CdcFile]))
    val written = sidecars("r", bound + 2)
    assert(written.nonEmpty && written.forall(c =>
      new Path(c.path).getName.startsWith(ChangeRows.stem(bound + 2))),
      written.map(_.path).mkString(", "))
    val fs = new Path(p).getFileSystem(spark.sessionState.newHadoopConf())
    val onDisk = fs.listStatus(new Path(p, "_change_data"))
      .map(_.getPath.getName).toSet
    assert(onDisk == written.map(c => new Path(c.path).getName).toSet,
      "the sidecars are renamed, not copied")
    val pre = Seq(4L, 9L).map(base)
    assertFeeds("r", bound + 2,
      pre.map(UpdatePre -> _) ++ pre.map(r => UpdatePost -> r.copy(_3 = r._3 + 1)))

    // the UPDATE's commit becomes the oldest in the log
    l.writeCheckpoint(bound + 2)
    l.expireLog(retainMillis = 0L, nowMillis = System.currentTimeMillis() +
      3600L * 1000)
    assert(l.versions().head == bound + 2)
    val doomed = TableWriter.vacuum(spark, p, retainMillis = 0L,
      nowMillis = System.currentTimeMillis() + 3600L * 1000)
    assert(!doomed.exists(_.startsWith("_change_data/")), doomed)
    assert(spark.read.parquet(written.map(c => TxnLog.dataPath(p, c.path)): _*)
      .count() == 4L)
  }

  test("a statement whose task fails after writing change rows commits " +
      "nothing and leaves no file") {
    val p = freshTable("f", partitioned = false)
    val fs = new Path(p).getFileSystem(spark.sessionState.newHadoopConf())
    def under(dir: Path): Seq[String] = fs.listStatus(dir).toSeq.flatMap(s =>
      if (s.isDirectory) under(s.getPath) else Seq(s.getPath.toString))
    def files: Set[String] =
      under(new Path(p)).filterNot(_.contains("/_txn_log/")).toSet
    val before = files
    val v0 = log("f").latestVersion().get
    // k = 29, the file's last row, fails its task after k = 20..28
    val failAt29 = "IF(k = 29, CAST(raise_error('boom') AS %s), %s)"
    def failing(kind: String)(body: => Unit): Unit = {
      ProbeFs.created.clear()
      val e = intercept[Exception](withoutTaskFailureLogs(body))
      assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .exists(t => String.valueOf(t.getMessage).contains("boom")), e)
      assert(ProbeFs.created.asScala.exists(_.contains("/_change_data/")),
        s"$kind: the task must have written change rows before failing")
      assert(log("f").latestVersion().contains(v0), s"$kind: nothing commits")
      assert(files == before, s"$kind: every file it wrote is deleted")
    }
    failing("merge-on-read UPDATE")(spark.sql("UPDATE gcrs.default.f SET v = " +
      failAt29.format("BIGINT", "v + 1") + " WHERE k >= 20"))
    val pred = expr(failAt29.format("BOOLEAN", "k >= 20"))
    failing("DV DELETE")(DeletionVectors.deleteWhere(spark, p, pred,
      version = v0 + 1, commitTs = System.currentTimeMillis()))
    failing("copy-on-write DELETE")(TableWriter.deleteWhere(spark, p, pred,
      version = v0 + 1, commitTs = System.currentTimeMillis()))
    assert(table("f") == (0L until 30L).map(base).sorted)
  }
}

/** A local filesystem under the `probefs` scheme that records the paths
  * it opens and creates, and can make one commit lose its race: armed
  * with a log version, the first create of that version's commit file
  * runs the interloper (which commits the version itself), then fails as
  * a lost create-if-absent does.
  */
class ProbeFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getScheme: String = "probefs"
  override def getUri: java.net.URI = java.net.URI.create("probefs:///")
  override def open(p: Path, bufferSize: Int)
      : org.apache.hadoop.fs.FSDataInputStream = {
    ProbeFs.opened.add(p.toString)
    super.open(p, bufferSize)
  }
  override def createOutputStreamWithMode(p: Path, append: Boolean,
      permission: org.apache.hadoop.fs.permission.FsPermission)
      : java.io.OutputStream = {
    ProbeFs.created.add(p.toString)
    ProbeFs.take(p).foreach { interloper =>
      interloper()
      throw new org.apache.hadoop.fs.FileAlreadyExistsException(p.toString)
    }
    super.createOutputStreamWithMode(p, append, permission)
  }
}

object ProbeFs {
  val opened = new java.util.concurrent.ConcurrentLinkedQueue[String]()
  val created = new java.util.concurrent.ConcurrentLinkedQueue[String]()
  private val race =
    new java.util.concurrent.atomic.AtomicReference[(String, () => Unit)]()

  /** The next commit of `table` at `version` loses to `interloper`. */
  def loseRace(table: String, version: Long)(interloper: => Unit): Unit =
    race.set((new Path(table, f"_txn_log/$version%020d.json").toUri.getPath,
      () => interloper))

  def armed: Boolean = race.get() != null

  private def take(p: Path): Option[() => Unit] =
    Option(race.get()).filter(r => r._1 == p.toUri.getPath &&
      race.compareAndSet(r, null)).map(_._2)
}

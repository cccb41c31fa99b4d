package graft.sources

import graft.SparkTestSession
import graft.txn._
import org.scalatest.funsuite.AnyFunSuite

/** SQL MERGE INTO / UPDATE through the group-based copy-on-write
  * row-level operation: correctness of the final state, ONE atomic
  * commit per statement, and the group contract — files without matches
  * are never rewritten (runtime `_graft_file` filtering).
  *
  * Merge-on-read is the ENGINE DEFAULT since round 13, so this suite
  * pins `spark.graft.update.mode=cow` (the opt-out) for its COW
  * certification and restores it after each dv-section block; the
  * mixed-history test at the bottom certifies both modes interleave on
  * one table.
  */
class RowLevelSpec extends AnyFunSuite
    with org.scalatest.BeforeAndAfterAll {
  import SparkTestSession._

  override def beforeAll(): Unit =
    spark.conf.set("spark.graft.update.mode", "cow")
  override def afterAll(): Unit =
    spark.conf.unset("spark.graft.update.mode")

  private lazy val wh: String = {
    val dir = java.nio.file.Files.createTempDirectory("rls_wh").toString
    spark.conf.set("spark.sql.catalog.grl", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.grl.warehouse", dir)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS grl.default")
    dir
  }

  private def log(t: String) =
    new TxnLog(s"$wh/default/$t", spark.sessionState.newHadoopConf())

  /** id-partitioned two-file table: ids 1..3 in bucket 'a', 11..13 in
    * bucket 'b' — so a statement touching only bucket 'a' must leave
    * bucket 'b''s file untouched.
    */
  private def freshTable(t: String): Unit = {
    wh
    spark.sql(s"DROP TABLE IF EXISTS grl.default.$t")
    spark.sql(
      s"""CREATE TABLE grl.default.$t (id BIGINT, bucket STRING, v BIGINT)
         |PARTITIONED BY (bucket)""".stripMargin)
    spark.sql(
      s"""INSERT INTO grl.default.$t VALUES
         |(1, 'a', 10), (2, 'a', 20), (3, 'a', 30),
         |(11, 'b', 110), (12, 'b', 120), (13, 'b', 130)""".stripMargin)
  }

  test("SQL UPDATE rewrites only matching rows, atomically") {
    freshTable("u1")
    val vBefore = log("u1").latestVersion().get
    spark.sql("UPDATE grl.default.u1 SET v = v + 1 WHERE id = 2")
    assert(log("u1").latestVersion().get == vBefore + 1,
      "one UPDATE = one commit")
    val rows = spark.sql(
      "SELECT id, v FROM grl.default.u1 ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(rows.toSeq == Seq((1L, 10L), (2L, 21L), (3L, 30L),
      (11L, 110L), (12L, 120L), (13L, 130L)))
  }

  test("UPDATE leaves non-matching file groups untouched") {
    freshTable("u2")
    val before = log("u2").snapshotLatest().files
      .filter(_.partitionValues.get("bucket").contains("b")).map(_.path).toSet
    spark.sql("UPDATE grl.default.u2 SET v = 0 WHERE bucket = 'a'")
    val after = log("u2").snapshotLatest().files
      .filter(_.partitionValues.get("bucket").contains("b")).map(_.path).toSet
    assert(after == before,
      s"bucket b's files must not be rewritten: $before -> $after")
    assert(spark.sql(
      "SELECT SUM(v) AS s FROM grl.default.u2 WHERE bucket = 'a'")
      .head().getLong(0) == 0L)
  }

  test("MERGE INTO: matched update + not-matched insert, one commit") {
    freshTable("m1")
    spark.sql(
      """SELECT * FROM VALUES (2, 'a', 200), (99, 'a', 990)
        |AS s(id, bucket, v)""".stripMargin).createOrReplaceTempView("m1_src")
    val vBefore = log("m1").latestVersion().get
    // the merge keys on id (no partition predicate): bucket b surviving
    // unrewritten below proves the RUNTIME _graft_file group filter, not
    // partition pruning
    val bBefore = log("m1").snapshotLatest().files
      .filter(_.partitionValues.get("bucket").contains("b")).map(_.path).toSet
    spark.sql(
      """MERGE INTO grl.default.m1 t USING m1_src s ON t.id = s.id
        |WHEN MATCHED THEN UPDATE SET t.v = s.v
        |WHEN NOT MATCHED THEN INSERT (id, bucket, v)
        |  VALUES (s.id, s.bucket, CAST(s.v AS BIGINT))""".stripMargin)
    assert(log("m1").latestVersion().get == vBefore + 1,
      "one MERGE = one commit")
    val bAfter = log("m1").snapshotLatest().files
      .filter(_.partitionValues.get("bucket").contains("b")).map(_.path).toSet
    assert(bAfter == bBefore,
      "files without matches must not be rewritten (runtime group filter)")
    val rows = spark.sql("SELECT id, v FROM grl.default.m1 ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(rows.toSeq == Seq((1L, 10L), (2L, 200L), (3L, 30L),
      (11L, 110L), (12L, 120L), (13L, 130L), (99L, 990L)))
  }

  test("MERGE with WHEN MATCHED DELETE removes rows") {
    freshTable("m2")
    spark.sql("SELECT * FROM VALUES (1), (3) AS s(id)")
      .createOrReplaceTempView("m2_src")
    spark.sql(
      """MERGE INTO grl.default.m2 t USING m2_src s ON t.id = s.id
        |WHEN MATCHED THEN DELETE""".stripMargin)
    val ids = spark.sql("SELECT id FROM grl.default.m2 ORDER BY id")
      .collect().map(_.getLong(0))
    assert(ids.toSeq == Seq(2L, 11L, 12L, 13L))
  }

  test("MERGE with WHEN NOT MATCHED BY SOURCE UPDATE and DELETE") {
    // the full three-clause sync: matched rows update, new source rows
    // insert, and target rows ABSENT from the source delete — the
    // "source is the truth" replication MERGE
    freshTable("m3")
    spark.sql(
      """SELECT * FROM VALUES (2, 'a', 200), (99, 'b', 990)
        |AS s(id, bucket, v)""".stripMargin).createOrReplaceTempView("m3_src")
    val vBefore = log("m3").latestVersion().get
    spark.sql(
      """MERGE INTO grl.default.m3 t USING m3_src s ON t.id = s.id
        |WHEN MATCHED THEN UPDATE SET t.v = s.v
        |WHEN NOT MATCHED THEN INSERT (id, bucket, v)
        |  VALUES (s.id, s.bucket, CAST(s.v AS BIGINT))
        |WHEN NOT MATCHED BY SOURCE THEN DELETE""".stripMargin)
    assert(log("m3").latestVersion().get == vBefore + 1,
      "one MERGE = one commit")
    val rows = spark.sql("SELECT id, v FROM grl.default.m3 ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(rows.toSeq == Seq((2L, 200L), (99L, 990L)))
  }

  test("MERGE NOT MATCHED BY SOURCE UPDATE marks unmatched rows") {
    freshTable("m4")
    spark.sql("SELECT * FROM VALUES (1), (11) AS s(id)")
      .createOrReplaceTempView("m4_src")
    spark.sql(
      """MERGE INTO grl.default.m4 t USING m4_src s ON t.id = s.id
        |WHEN MATCHED THEN UPDATE SET t.v = t.v + 1
        |WHEN NOT MATCHED BY SOURCE THEN UPDATE SET t.v = 0""".stripMargin)
    val rows = spark.sql("SELECT id, v FROM grl.default.m4 ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(rows.toSeq == Seq((1L, 11L), (2L, 0L), (3L, 0L),
      (11L, 111L), (12L, 0L), (13L, 0L)))
  }

  test("DELETE in dv mode marks rows without rewriting any file") {
    freshTable("dv1")
    val before = log("dv1").snapshotLatest().files
      .map(f => f.path -> f.dv).toMap
    spark.conf.set("spark.graft.delete.mode", "dv")
    try spark.sql("DELETE FROM grl.default.dv1 WHERE id = 2")
    finally spark.conf.unset("spark.graft.delete.mode")
    val after = log("dv1").snapshotLatest().files
    assert(after.map(_.path).toSet == before.keySet,
      "dv-mode DELETE must not rewrite or remove any data file")
    assert(after.exists(f => f.dv.isDefined && before(f.path).isEmpty),
      "the touched file must gain a deletion-vector pointer")
    val ids = spark.sql("SELECT id FROM grl.default.dv1 ORDER BY id")
      .collect().map(_.getLong(0))
    assert(ids.toSeq == Seq(1L, 3L, 11L, 12L, 13L))
  }

  test("pre-statement state stays time-travelable") {
    freshTable("t1")
    val vBefore = log("t1").latestVersion().get
    spark.sql("UPDATE grl.default.t1 SET v = -1 WHERE id >= 0")
    val old = spark.sql(
      s"SELECT SUM(v) AS s FROM grl.default.t1 VERSION AS OF $vBefore")
      .head().getLong(0)
    assert(old == 10L + 20L + 30L + 110L + 120L + 130L)
  }

  test("a DELETE SupportsDelete can't translate falls back to the rewrite") {
    freshTable("d1")
    val vBefore = log("d1").latestVersion().get
    // v % 2 = 1 has no V1 Filter form, so canDeleteWhere refuses and
    // Spark routes through the row-level copy-on-write path instead
    spark.sql("DELETE FROM grl.default.d1 WHERE v % 20 = 10")
    assert(log("d1").latestVersion().get == vBefore + 1)
    val ids = spark.sql("SELECT id FROM grl.default.d1 ORDER BY id")
      .collect().map(_.getLong(0))
    assert(ids.toSeq == Seq(2L, 12L),
      s"v in {10,30,110,130} (ids 1,3,11,13) must be deleted, got ${ids.toSeq}")
  }

  test("the _graft_file metadata column is selectable") {
    freshTable("t2")
    val files = spark.sql(
      "SELECT DISTINCT _graft_file FROM grl.default.t2")
      .collect().map(_.getString(0))
    val live = log("t2").snapshotLatest().files.map(_.path).toSet
    assert(files.length == live.size,
      s"one distinct value per live file: ${files.toSeq}")
    assert(files.forall(_.contains("bucket=")))
  }

  private def rootMessages(t: Throwable): Seq[String] =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
      .map(e => Option(e.getMessage).getOrElse("")).toSeq

  test("MERGE into a CHECK-constrained table: violating refuses, conforming lands") {
    freshTable("c1")
    TableWriter.addConstraint(spark, s"$wh/default/c1", "v >= 0",
      log("c1").latestVersion().get + 1, System.currentTimeMillis())
    // violating: the replacement rows fail the one-pass validation and
    // the statement refuses BEFORE anything commits
    spark.sql("SELECT * FROM VALUES (2, 'a', -5) AS s(id, bucket, v)")
      .createOrReplaceTempView("c1_bad")
    val vBefore = log("c1").latestVersion().get
    val e = intercept[Throwable] {
      spark.sql(
        """MERGE INTO grl.default.c1 t USING c1_bad s ON t.id = s.id
          |WHEN MATCHED THEN UPDATE SET t.v = s.v""".stripMargin)
    }
    assert(rootMessages(e).exists(m =>
      m.toLowerCase.contains("check constraint")),
      s"wrong failure: $e")
    assert(log("c1").latestVersion().get == vBefore, "nothing may commit")
    assert(spark.sql("SELECT v FROM grl.default.c1 WHERE id = 2")
      .head().getLong(0) == 20L)
    // conforming: same statement shape with a legal value lands
    spark.sql("SELECT * FROM VALUES (2, 'a', 200) AS s(id, bucket, v)")
      .createOrReplaceTempView("c1_ok")
    spark.sql(
      """MERGE INTO grl.default.c1 t USING c1_ok s ON t.id = s.id
        |WHEN MATCHED THEN UPDATE SET t.v = s.v""".stripMargin)
    assert(spark.sql("SELECT v FROM grl.default.c1 WHERE id = 2")
      .head().getLong(0) == 200L)
  }

  test("UPDATE validates generated columns: stale value refuses, agreeing lands") {
    wh
    val path = s"$wh/default/g1"
    spark.sql("DROP TABLE IF EXISTS grl.default.g1")
    val seed = spark.range(1, 7)
      .selectExpr("id", "CAST(id * 10 AS BIGINT) AS v",
        "CAST(id % 2 AS BIGINT) AS par")
    TableWriter.write(spark, seed, path, partitionBy = Seq("par"),
      version = 0L, commitTs = 1000L,
      generated = Map("par" -> "id % 2"))
    // an UPDATE that rewrites id but leaves the generated par stale must
    // refuse — otherwise pruning on par silently breaks
    val vBefore = log("g1").latestVersion().get
    val e = intercept[Throwable] {
      spark.sql("UPDATE grl.default.g1 SET id = id + 1 WHERE id = 2")
    }
    assert(rootMessages(e).exists(m =>
      m.toLowerCase.contains("check constraint") && m.contains("par")),
      s"wrong failure: $e")
    assert(log("g1").latestVersion().get == vBefore)
    // touching only non-generating columns keeps the agreement: lands
    spark.sql("UPDATE grl.default.g1 SET v = 0 WHERE id = 2")
    assert(spark.sql("SELECT v FROM grl.default.g1 WHERE id = 2")
      .head().getLong(0) == 0L)
    // and an id update whose rows land in the SAME parity class agrees
    spark.sql("UPDATE grl.default.g1 SET id = id + 2, v = -1 WHERE id = 3")
    assert(spark.sql("SELECT id FROM grl.default.g1 WHERE v = -1")
      .head().getLong(0) == 5L)
  }

  /** Identity-based conflict: a concurrent DV delete keeps every scanned
    * PATH live (it re-adds the same path with a new dv pointer), so the
    * old path-liveness check waved it through and the rewrite silently
    * resurrected the concurrently deleted rows. The AddFile-identity
    * check must refuse.
    */
  test("concurrent DV delete between scan and commit conflicts by identity") {
    freshTable("cv1")
    val path = s"$wh/default/cv1"
    val scan = new GraftBatchScanBuilder(
      GraftBatch.resolve(Map("tablePath" -> path)))
      .build().asInstanceOf[GraftBatchScan]
    // concurrent DV delete of id=2: same file path, new dv pointer
    DeletionVectors.deleteMatching(spark, path,
      spark.sql("SELECT CAST(2 AS BIGINT) AS id"), Seq("id"),
      log("cv1").latestVersion().get + 1, System.currentTimeMillis())
    val write = new GraftRowLevelBatchWrite(path,
      org.apache.spark.sql.types.StructType(Seq()), Seq("bucket"),
      () => Some(scan), () => Array.empty, "MERGE")
    val e = intercept[IllegalStateException] { write.commit(Array.empty) }
    assert(e.getMessage.contains("changed or vanished"), e.getMessage)
  }

  test("concurrent append conflicts a predicate-free operation") {
    freshTable("cv2")
    val path = s"$wh/default/cv2"
    val scan = new GraftBatchScanBuilder(
      GraftBatch.resolve(Map("tablePath" -> path)))
      .build().asInstanceOf[GraftBatchScan]
    spark.sql("INSERT INTO grl.default.cv2 VALUES (50, 'a', 500)")
    val write = new GraftRowLevelBatchWrite(path,
      org.apache.spark.sql.types.StructType(Seq()), Seq("bucket"),
      () => Some(scan), () => Array.empty, "MERGE")
    val e = intercept[IllegalStateException] { write.commit(Array.empty) }
    assert(e.getMessage.contains("appended concurrently"), e.getMessage)
  }

  // ---- delta-based merge-on-read (spark.graft.update.mode=dv) ----

  private def dvMode[A](body: => A): A = {
    spark.conf.set("spark.graft.update.mode", "dv")
    // restore the suite's cow pin, not the engine default
    try body finally spark.conf.set("spark.graft.update.mode", "cow")
  }

  test("dv-mode UPDATE marks old rows dead and appends — zero rewrites") {
    freshTable("mu1")
    val before = log("mu1").snapshotLatest().files
    val vBefore = log("mu1").latestVersion().get
    dvMode {
      spark.sql("UPDATE grl.default.mu1 SET v = v + 1 WHERE id = 2")
    }
    assert(log("mu1").latestVersion().get == vBefore + 1,
      "one UPDATE = one commit")
    val after = log("mu1").snapshotLatest().files
    assert(before.map(_.path).toSet.subsetOf(after.map(_.path).toSet),
      "dv-mode UPDATE must not remove or rewrite any pre-statement file")
    val touched = after.filter(_.dv.isDefined)
    assert(touched.nonEmpty, "the matched file must gain a DV pointer")
    assert(after.map(_.path).toSet.size == before.size + 1,
      "exactly one appended update-image file")
    val rows = spark.sql("SELECT id, v FROM grl.default.mu1 ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(rows.toSeq == Seq((1L, 10L), (2L, 21L), (3L, 30L),
      (11L, 110L), (12L, 120L), (13L, 130L)))
  }

  test("dv-mode MERGE: matched update + insert, one commit, zero rewrites") {
    freshTable("mm1")
    spark.sql(
      """SELECT * FROM VALUES (2, 'a', 200), (99, 'b', 990)
        |AS s(id, bucket, v)""".stripMargin)
      .createOrReplaceTempView("mm1_src")
    val before = log("mm1").snapshotLatest().files.map(_.path).toSet
    val vBefore = log("mm1").latestVersion().get
    dvMode {
      spark.sql(
        """MERGE INTO grl.default.mm1 t USING mm1_src s ON t.id = s.id
          |WHEN MATCHED THEN UPDATE SET t.v = s.v
          |WHEN NOT MATCHED THEN INSERT (id, bucket, v)
          |  VALUES (s.id, s.bucket, CAST(s.v AS BIGINT))""".stripMargin)
    }
    assert(log("mm1").latestVersion().get == vBefore + 1)
    val after = log("mm1").snapshotLatest().files
    assert(before.subsetOf(after.map(_.path).toSet),
      "no pre-statement file may be removed")
    val rows = spark.sql("SELECT id, v FROM grl.default.mm1 ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(rows.toSeq == Seq((1L, 10L), (2L, 200L), (3L, 30L),
      (11L, 110L), (12L, 120L), (13L, 130L), (99L, 990L)))
  }

  test("dv-mode MERGE WHEN MATCHED DELETE + NOT MATCHED BY SOURCE") {
    freshTable("mm2")
    spark.sql(
      """SELECT * FROM VALUES (1, 'a', 0), (99, 'b', 990)
        |AS s(id, bucket, v)""".stripMargin)
      .createOrReplaceTempView("mm2_src")
    dvMode {
      spark.sql(
        """MERGE INTO grl.default.mm2 t USING mm2_src s ON t.id = s.id
          |WHEN MATCHED THEN DELETE
          |WHEN NOT MATCHED THEN INSERT (id, bucket, v)
          |  VALUES (s.id, s.bucket, CAST(s.v AS BIGINT))
          |WHEN NOT MATCHED BY SOURCE AND t.id > 12 THEN DELETE""".stripMargin)
    }
    val ids = spark.sql("SELECT id FROM grl.default.mm2 ORDER BY id")
      .collect().map(_.getLong(0))
    assert(ids.toSeq == Seq(2L, 3L, 11L, 12L, 99L))
  }

  test("dv-mode UPDATE moves a row across hive partitions") {
    freshTable("mp1")
    dvMode {
      spark.sql(
        "UPDATE grl.default.mp1 SET bucket = 'b', v = 0 WHERE id = 2")
    }
    val rows = spark.sql(
      "SELECT id, bucket, v FROM grl.default.mp1 ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(rows.toSeq == Seq((1L, "a", 10L), (2L, "b", 0L), (3L, "a", 30L),
      (11L, "b", 110L), (12L, "b", 120L), (13L, "b", 130L)))
    // the update image landed under the NEW partition's hive dir
    val newest = log("mp1").snapshotLatest().files
      .filter(_.dv.isEmpty).maxBy(_.modificationTime)
    assert(newest.partitionValues.get("bucket").contains("b"), newest)
  }

  test("dv-mode UPDATE stages exact CDF images") {
    wh
    val path = s"$wh/default/mcdf"
    spark.sql("DROP TABLE IF EXISTS grl.default.mcdf")
    spark.sql(
      """CREATE TABLE grl.default.mcdf (id BIGINT, v BIGINT)
        |TBLPROPERTIES ('graft.enableChangeDataFeed'='true')""".stripMargin)
    spark.sql("INSERT INTO grl.default.mcdf VALUES (1, 10), (2, 20), (3, 30)")
    val vBefore = log("mcdf").latestVersion().get
    dvMode {
      spark.sql("UPDATE grl.default.mcdf SET v = v * 100 WHERE id = 2")
    }
    val changes = ChangeDataFeed.tableChanges(spark, path, vBefore + 1)
      .select("id", "v", ChangeDataFeed.TypeCol)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
      .toSet
    assert(changes == Set(
      (2L, 20L, ChangeDataFeed.UpdatePre),
      (2L, 2000L, ChangeDataFeed.UpdatePost)), changes)
  }

  test("dv-mode MERGE CDF: preimage/postimage/insert/delete classified") {
    wh
    val path = s"$wh/default/mcdf2"
    spark.sql("DROP TABLE IF EXISTS grl.default.mcdf2")
    spark.sql(
      """CREATE TABLE grl.default.mcdf2 (id BIGINT, v BIGINT)
        |TBLPROPERTIES ('graft.enableChangeDataFeed'='true')""".stripMargin)
    spark.sql("INSERT INTO grl.default.mcdf2 VALUES (1, 10), (2, 20), (3, 30)")
    spark.sql(
      """SELECT * FROM VALUES (2, 200), (3, -1), (9, 900) AS s(id, v)
        |""".stripMargin).createOrReplaceTempView("mcdf2_src")
    val vBefore = log("mcdf2").latestVersion().get
    dvMode {
      spark.sql(
        """MERGE INTO grl.default.mcdf2 t USING mcdf2_src s ON t.id = s.id
          |WHEN MATCHED AND s.v < 0 THEN DELETE
          |WHEN MATCHED THEN UPDATE SET t.v = s.v
          |WHEN NOT MATCHED THEN INSERT (id, v)
          |  VALUES (s.id, CAST(s.v AS BIGINT))""".stripMargin)
    }
    val changes = ChangeDataFeed.tableChanges(spark, path, vBefore + 1)
      .select("id", "v", ChangeDataFeed.TypeCol)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
      .toSet
    assert(changes == Set(
      (2L, 20L, ChangeDataFeed.UpdatePre),
      (2L, 200L, ChangeDataFeed.UpdatePost),
      (3L, 30L, ChangeDataFeed.Delete),
      (9L, 900L, ChangeDataFeed.Insert)), changes)
  }

  test("dv-mode UPDATE validates CHECK constraints before committing") {
    freshTable("mc1")
    TableWriter.addConstraint(spark, s"$wh/default/mc1", "v >= 0",
      log("mc1").latestVersion().get + 1, System.currentTimeMillis())
    val vBefore = log("mc1").latestVersion().get
    val e = intercept[Throwable] {
      dvMode {
        spark.sql("UPDATE grl.default.mc1 SET v = -5 WHERE id = 2")
      }
    }
    assert(rootMessages(e).exists(m =>
      m.toLowerCase.contains("check constraint")), s"wrong failure: $e")
    assert(log("mc1").latestVersion().get == vBefore, "nothing may commit")
    assert(spark.sql("SELECT v FROM grl.default.mc1 WHERE id = 2")
      .head().getLong(0) == 20L)
  }

  test("delta commit conflicts with a concurrent DV delete by identity") {
    freshTable("mcv1")
    val path = s"$wh/default/mcv1"
    val scan = new GraftBatchScanBuilder(
      GraftBatch.resolve(Map("tablePath" -> path)))
      .build().asInstanceOf[GraftBatchScan]
    val dataSchema = org.apache.spark.sql.types.StructType(Seq())
    val write = new GraftDeltaBatchWrite(path, dataSchema, Seq("bucket"),
      () => Some(scan), () => Array.empty, "UPDATE")
    // a real task writer stages a dead handle against the file id=3
    // lives in (bound BEFORE the concurrent delete) — the SAME file the
    // concurrent DV delete will re-point, whichever file that is
    val targetAbs = spark.sql(
      "SELECT _graft_file FROM grl.default.mcv1 WHERE id = 3")
      .head().getString(0)
    val targetName = new org.apache.hadoop.fs.Path(targetAbs).getName
    val target = log("mcv1").snapshotLatest().files
      .find(f => new org.apache.hadoop.fs.Path(f.path).getName == targetName)
      .get
    val fileName = new org.apache.hadoop.fs.Path(target.path).getName
    val w = write.createBatchWriterFactory(
      new org.apache.spark.sql.connector.write.PhysicalWriteInfo {
        override def numPartitions(): Int = 1
      }).createWriter(0, 0L)
    val id = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](org.apache.spark.unsafe.types.UTF8String.fromString(
        s"$path/${target.path}"), 1L))
    w.delete(null, id)
    val msg = w.commit()
    // concurrent DV delete: same path stays live, pointer changes
    DeletionVectors.deleteMatching(spark, path,
      spark.sql("SELECT CAST(3 AS BIGINT) AS id"), Seq("id"),
      log("mcv1").latestVersion().get + 1, System.currentTimeMillis())
    val e = intercept[IllegalStateException] {
      write.commit(Array(msg))
    }
    assert(e.getMessage.contains("changed or vanished"), e.getMessage)
    assert(fileName.nonEmpty)
  }

  test("concurrent append outside the pushed predicate ranges commutes") {
    freshTable("cv3")
    val path = s"$wh/default/cv3"
    val sb = new GraftBatchScanBuilder(
      GraftBatch.resolve(Map("tablePath" -> path)))
    sb.pushFilters(Array(
      org.apache.spark.sql.sources.GreaterThan("id", 100L)))
    val scan = sb.build().asInstanceOf[GraftBatchScan]
    val filters = sb.pushedFilters()
    // the appended file's id stats [60, 60] cannot overlap id > 100
    spark.sql("INSERT INTO grl.default.cv3 VALUES (60, 'a', 600)")
    val vBefore = log("cv3").latestVersion().get
    val write = new GraftRowLevelBatchWrite(path,
      org.apache.spark.sql.types.StructType(Seq()), Seq("bucket"),
      () => Some(scan), () => filters, "UPDATE")
    write.commit(Array.empty) // no overlap -> commits (replaces kept files)
    assert(log("cv3").latestVersion().get == vBefore + 1)
  }

  test("the ENGINE DEFAULT for UPDATE/MERGE is merge-on-read: no mode " +
      "set, zero files rewritten, a DV pointer lands") {
    freshTable("def1")
    val path = s"$wh/default/def1"
    val before = log("def1").snapshotLatest().files.map(_.path).toSet
    spark.conf.unset("spark.graft.update.mode") // drop the suite's cow pin
    try spark.sql("UPDATE grl.default.def1 SET v = v + 1 WHERE id = 2")
    finally spark.conf.set("spark.graft.update.mode", "cow")
    val after = log("def1").snapshotLatest().files
    assert(before.subsetOf(after.map(_.path).toSet),
      "default-mode UPDATE must not rewrite any pre-statement file")
    assert(after.exists(_.dv.isDefined),
      "default-mode UPDATE must mark old rows via a deletion vector")
    assert(spark.sql("SELECT v FROM grl.default.def1 WHERE id = 2")
      .head().getLong(0) == 21L)
  }

  test("MIXED HISTORY: cow commits, then dv commits, then reorg — one " +
      "read path, identical state at every step") {
    freshTable("mix1")
    val path = s"$wh/default/mix1"
    // 1) COW UPDATE (suite default pins cow)
    spark.sql("UPDATE grl.default.mix1 SET v = v + 1 WHERE id = 1")
    // 2) dv MERGE + UPDATE on top of the rewritten files
    dvMode {
      spark.sql("SELECT * FROM VALUES (2, 'a', 2000), (42, 'b', 4200) " +
        "AS s(id, bucket, v)").createOrReplaceTempView("mix1_src")
      spark.sql(
        """MERGE INTO grl.default.mix1 t USING mix1_src s ON t.id = s.id
          |WHEN MATCHED THEN UPDATE SET t.v = s.v
          |WHEN NOT MATCHED THEN INSERT (id, bucket, v)
          |  VALUES (s.id, s.bucket, CAST(s.v AS BIGINT))""".stripMargin)
      spark.sql("UPDATE grl.default.mix1 SET v = 0 WHERE id = 13")
    }
    val want = Seq((1L, 11L), (2L, 2000L), (3L, 30L), (11L, 110L),
      (12L, 120L), (13L, 0L), (42L, 4200L))
    def state(): Seq[(Long, Long)] =
      spark.sql("SELECT id, v FROM grl.default.mix1 ORDER BY id")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(state() == want)
    assert(log("mix1").snapshotLatest().files.exists(_.dv.isDefined),
      "the dv commits must have left vectors to reorg")
    // 3) reorg folds the vectors back into plain files; state unchanged
    DeletionVectors.purge(spark, path,
      log("mix1").latestVersion().get + 1, System.currentTimeMillis())
    assert(log("mix1").snapshotLatest().files.forall(_.dv.isEmpty))
    assert(state() == want)
    // 4) time travel still replays the mixed history
    assert(spark.read.format("graft").option("tablePath", path)
      .option("versionAsOf", "1").load().count() == 6)
  }
}

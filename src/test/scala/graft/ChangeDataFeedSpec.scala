package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.txn.{ChangeDataFeed, DeletionVectors, TableWriter, TxnLog}

/** Change data feed: exact row-level change records with UPDATE
  * pre/post-images, inference for commits without change files, vacuum
  * protection, and the property gate.
  */
class ChangeDataFeedSpec extends AnyFunSuite {
  import SparkTestSession._
  import ChangeDataFeed._

  private def freshDir(tag: String) =
    java.nio.file.Files.createTempDirectory(tag).toString + "/t"

  /** 200-row keyed frame: (k, grp, cents). */
  private def base = {
    import spark.implicits._
    (0L until 200L).map(k => (k, (k % 4).toString, k * 10L))
      .toDF("k", "grp", "cents")
  }

  private def withCdf(dir: String): Unit =
    TableWriter.setTableProperties(spark, dir, Map(Prop -> "true"),
      version = 1L, commitTs = 1500L)

  private def changes(dir: String, from: Long, to: Long) =
    ChangeDataFeed.tableChanges(spark, dir, from, Some(to))

  test("UPDATE writes exact pre/post-images") {
    val dir = freshDir("cdf_upd")
    TableWriter.write(spark, base, dir, version = 0L, commitTs = 1000L)
    withCdf(dir)
    TableWriter.updateWhere(spark, dir, col("k") % 50 === 0,
      Map("cents" -> (col("cents") + 7L)), version = 2L, commitTs = 2000L)
    val ch = changes(dir, 2L, 2L)
      .select(col("k"), col("cents"), col(TypeCol), col(VersionCol),
        col(TimestampCol))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2),
        r.getLong(3), r.getLong(4))).sorted.toSeq
    val want = (0L until 200L by 50L).flatMap(k => Seq(
      (k, k * 10L, UpdatePre, 2L, 2000L),
      (k, k * 10L + 7L, UpdatePost, 2L, 2000L))).sorted
    assert(ch == want)
  }

  test("copy-on-write DELETE and DV DELETE both record exact delete rows") {
    val dir = freshDir("cdf_del")
    TableWriter.write(spark, base, dir, version = 0L, commitTs = 1000L)
    withCdf(dir)
    TableWriter.deleteWhere(spark, dir, col("k") < 5, version = 2L,
      commitTs = 2000L)
    DeletionVectors.deleteWhere(spark, dir, col("k") >= 195, version = 3L,
      commitTs = 3000L)
    def deleted(v: Long) = changes(dir, v, v)
      .filter(col(TypeCol) === Delete)
      .select("k").collect().map(_.getLong(0)).sorted.toSeq
    assert(deleted(2L) == (0L until 5L))
    assert(deleted(3L) == (195L until 200L))
    // the DV commit re-adds its file, but the change feed serves the
    // sidecar, never infers — no survivor noise
    assert(changes(dir, 3L, 3L).count() == 5L)
  }

  test("MERGE records update_preimage/update_postimage/insert") {
    import spark.implicits._
    val dir = freshDir("cdf_merge")
    TableWriter.write(spark, base, dir, version = 0L, commitTs = 1000L)
    withCdf(dir)
    // keys 10,11 exist (update), key 1000 is new (insert)
    val src = Seq((10L, "x", 1L), (11L, "y", 2L), (1000L, "z", 3L))
      .toDF("k", "grp", "cents")
    TableWriter.mergeUpsert(spark, dir, src, Seq("k"), version = 2L,
      commitTs = 2000L)
    val ch = changes(dir, 2L, 2L)
      .select(col("k"), col("cents"), col(TypeCol))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
      .sorted.toSeq
    assert(ch == Seq(
      (10L, 1L, UpdatePost), (10L, 100L, UpdatePre),
      (11L, 2L, UpdatePost), (11L, 110L, UpdatePre),
      (1000L, 3L, Insert)).sorted)
  }

  test("appends infer as inserts; CDF-off DML stays file-level") {
    import spark.implicits._
    val dir = freshDir("cdf_infer")
    TableWriter.write(spark, base, dir, version = 0L, commitTs = 1000L)
    // no CDF property: append at v1, COW delete at v2
    TableWriter.write(spark, Seq((500L, "a", 1L)).toDF("k", "grp", "cents"),
      dir, version = 1L, commitTs = 2000L)
    TableWriter.deleteWhere(spark, dir, col("k") === 500L, version = 2L,
      commitTs = 3000L)
    // v0+v1: pure adds → inserts (201 rows)
    val ins = changes(dir, 0L, 1L)
    assert(ins.filter(col(TypeCol) === Insert).count() == 201L)
    // v2 rewrote a file without change data: inference reports the whole
    // file as delete+insert (file-level truth, like the op envelope) —
    // net change must still be the one deleted row
    val v2 = changes(dir, 2L, 2L)
    val delK = v2.filter(col(TypeCol) === Delete).select("k")
    val insK = v2.filter(col(TypeCol) === Insert).select("k")
    val net = delK.exceptAll(insK).collect().map(_.getLong(0)).toSeq
    assert(net == Seq(500L))
  }

  test("DV transition without change data refuses loudly") {
    val dir = freshDir("cdf_refuse")
    TableWriter.write(spark, base, dir, version = 0L, commitTs = 1000L)
    // CDF off: the DV commit re-adds the path it removes
    DeletionVectors.deleteWhere(spark, dir, col("k") === 0L, version = 1L,
      commitTs = 2000L)
    val e = intercept[IllegalArgumentException] {
      changes(dir, 1L, 1L).count()
    }
    assert(e.getMessage.contains("enableChangeDataFeed"))
  }

  test("RESTORE over a DV transition refuses inference (bare re-add of " +
      "a live file)") {
    val dir = freshDir("cdf_restore")
    TableWriter.write(spark, base, dir, version = 0L, commitTs = 1000L)
    // no CDF property: v1 DV delete, v2 restore to v0 — the restore
    // re-adds the file with only its DV pointer changed (no remove), so
    // naive add/remove inference would read every surviving row as a
    // fresh insert
    DeletionVectors.deleteWhere(spark, dir, col("k") === 3L, version = 1L,
      commitTs = 2000L)
    TableWriter.restore(spark, dir, toVersion = 0L, version = 2L,
      commitTs = 3000L)
    val e = intercept[IllegalArgumentException] {
      changes(dir, 2L, 2L).count()
    }
    assert(e.getMessage.contains("enableChangeDataFeed"))
  }

  test("mergeFullSync 3VL: NULL-scope rows survive everywhere; feed " +
      "records exactly the in-scope deletes") {
    import spark.implicits._
    val dir = freshDir("cdf_fsync")
    // x nullable: k=1 has NULL x — NOT in scope (3VL), so it must
    // survive REGARDLESS of which file it shares with an in-scope row,
    // and the feed must not record it
    val t = Seq((1L, Option.empty[Long], 10L), (2L, Some(1L), 20L),
      (3L, Some(9L), 30L)).toDF("k", "x", "cents")
    TableWriter.write(spark, t.coalesce(1), dir, version = 0L,
      commitTs = 1000L) // ONE file: k=1 rides in the affected file
    withCdf(dir)
    val src = Seq((9L, Option(7L), 90L)).toDF("k", "x", "cents")
    TableWriter.mergeFullSync(spark, dir, src, col("x") > 5L,
      version = 2L, commitTs = 2000L)
    val state = graft.txn.SnapshotReader.read(spark, dir)
      .select("k").collect().map(_.getLong(0)).sorted.toSeq
    assert(state == Seq(1L, 2L, 9L))
    val feed = changes(dir, 2L, 2L)
      .select(col("k"), col(TypeCol)).collect()
      .map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
    assert(feed == Seq((3L, Delete), (9L, Insert)))
    // and a NULL-scope SOURCE row refuses — it would land outside the
    // declared slice
    intercept[IllegalArgumentException] {
      TableWriter.mergeFullSync(spark, dir,
        Seq((10L, Option.empty[Long], 1L)).toDF("k", "x", "cents"),
        col("x") > 5L, version = 3L, commitTs = 3000L)
    }
    ()
  }

  test("keyed CDF apply handles a key-changing UPDATE (preimage removes " +
      "the old key)") {
    val dir = freshDir("cdf_keychg")
    val dst = freshDir("cdf_keychg_dst")
    TableWriter.write(spark, base, dir, version = 0L, commitTs = 1000L)
    withCdf(dir)
    // UPDATE that MOVES a key: k=5 becomes k=505
    TableWriter.updateWhere(spark, dir, col("k") === 5L,
      Map("k" -> lit(505L)), version = 2L, commitTs = 2000L)
    // replica seeded from v0, then the DML batch applied keyed
    TableWriter.write(spark,
      graft.txn.SnapshotReader.read(spark, dir, versionAsOf = Some(0L)),
      dst, version = 0L, commitTs = 1000L)
    graft.streaming.ApplyChanges.applyCdfBatch(spark,
      changes(dir, 2L, 2L), dst, keyCols = Seq("k"))
    val got = graft.txn.SnapshotReader.read(spark, dst)
      .select("k").collect().map(_.getLong(0)).sorted.toSeq
    val want = graft.txn.SnapshotReader.read(spark, dir)
      .select("k").collect().map(_.getLong(0)).sorted.toSeq
    assert(got == want)
    assert(!got.contains(5L) && got.contains(505L))
  }

  test("stage consolidates a many-partition tiny change frame") {
    import spark.implicits._
    val dir = freshDir("cdf_stage")
    TableWriter.write(spark, base, dir, version = 0L, commitTs = 1000L)
    val tiny = (0L until 40L).map(k => (k, "g", k))
      .toDF("k", "grp", "cents")
      .repartition(40)
      .withColumn(TypeCol, lit(Insert))
    val files = ChangeDataFeed.stage(spark, tiny, dir, version = 99L)
    assert(files.size <= 16, s"${files.size} sidecars for a tiny frame")
    val back = spark.read.parquet(
      files.map(f => dir + "/" + f.path): _*)
    assert(back.count() == 40L)
  }

  test("vacuum protects change files while their commit is in the log") {
    val dir = freshDir("cdf_vac")
    TableWriter.write(spark, base, dir, version = 0L, commitTs = 1000L)
    withCdf(dir)
    TableWriter.deleteWhere(spark, dir, col("k") < 3, version = 2L,
      commitTs = 2000L)
    // far-future vacuum horizon: everything unreferenced would go
    val doomed = TableWriter.vacuum(spark, dir, retainMillis = 0L,
      nowMillis = System.currentTimeMillis() + 1000L * 3600, dryRun = true)
    assert(!doomed.exists(_.startsWith("_change_data/")),
      s"change files in vacuum list: $doomed")
    // and the feed still reads after a real vacuum
    TableWriter.vacuum(spark, dir, retainMillis = 0L,
      nowMillis = System.currentTimeMillis() + 1000L * 3600)
    assert(changes(dir, 2L, 2L).filter(col(TypeCol) === Delete).count() == 3L)
  }

  test("timestamp-bounded feed resolves against a skew-clamped clock") {
    val dir = freshDir("cdf_ts")
    TableWriter.write(spark, base, dir, version = 0L, commitTs = 1000L)
    withCdf(dir) // v1, ts=1500
    TableWriter.deleteWhere(spark, dir, col("k") < 2, version = 2L,
      commitTs = 3000L)
    // v3 carries a SKEWED (older) clock; v4 is normal
    TableWriter.deleteWhere(spark, dir, col("k") === 50L, version = 3L,
      commitTs = 2500L)
    TableWriter.deleteWhere(spark, dir, col("k") === 60L, version = 4L,
      commitTs = 4000L)
    // [3000, 3500]: v2 starts the window; the skewed v3 clamps UP to
    // 3000 and stays inside; v4 (4000) is out
    val ks = ChangeDataFeed.tableChangesByTime(spark, dir, 3000L, Some(3500L))
      .filter(col(TypeCol) === Delete)
      .select("k").collect().map(_.getLong(0)).sorted.toSeq
    assert(ks == Seq(0L, 1L, 50L))
    // empty windows refuse rather than serving neighbors
    intercept[IllegalArgumentException] {
      ChangeDataFeed.tableChangesByTime(spark, dir, 99999L)
    }
    ()
  }

  test("changesSummary subtracts DV kills from DV-carrying adds (clone " +
      "import) so the audit matches the feed") {
    val src = freshDir("cdf_sum_src")
    val dst = freshDir("cdf_sum_dst")
    TableWriter.write(spark, base, src, version = 0L, commitTs = 1000L)
    // CDF off on the source: the DV delete is a plain DV transition there
    DeletionVectors.deleteWhere(spark, src, col("k") < 20, version = 1L,
      commitTs = 2000L)
    // the clone imports DV-CARRYING AddFiles as dst's version 0
    TableWriter.cloneShallow(spark, src, dst, commitTs = 3000L)
    val feedRows = ChangeDataFeed.tableChanges(spark, dst, 0L).count()
    assert(feedRows == 180L, s"feed should serve DV-applied adds: $feedRows")
    val sm = ChangeDataFeed.changesSummary(spark, dst, 0L)
      .select("change_type", "n_rows").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(sm == Seq((Insert, 180L)),
      s"audit must subtract DV kills from DV-carrying adds: $sm")
  }

  test("expired-log ranges refuse instead of silently narrowing") {
    val dir = freshDir("cdf_exp")
    TableWriter.write(spark, base, dir, version = 0L, commitTs = 1000L)
    withCdf(dir)
    TableWriter.deleteWhere(spark, dir, col("k") < 2, version = 2L,
      commitTs = 2000L)
    TableWriter.deleteWhere(spark, dir, col("k") === 9L, version = 3L,
      commitTs = 3000L)
    val log = new TxnLog(dir, spark.sessionState.newHadoopConf())
    log.writeCheckpoint(2L)
    // expire everything below v2 — versions 0..1 are gone
    assert(log.expireLog(retainMillis = 500L, nowMillis = 3100L).nonEmpty)
    // a range reaching below the earliest retained version must refuse
    // (the old behavior silently served only the surviving suffix)
    val e = intercept[IllegalArgumentException] {
      changes(dir, 0L, 3L).count()
    }
    assert(e.getMessage.contains("expired"))
    // a range starting AT the retained base also refuses: its pre-state
    // (the seed snapshot strictly before the range) no longer exists, so
    // removes there could silently read as empty
    intercept[IllegalArgumentException] { changes(dir, 2L, 3L).count() }
    intercept[IllegalArgumentException] {
      ChangeDataFeed.changesSummary(spark, dir, 0L, Some(3L)).count()
    }
    // strictly-after-base ranges still serve exactly
    assert(changes(dir, 3L, 3L).filter(col(TypeCol) === Delete)
      .select("k").collect().map(_.getLong(0)).toSeq == Seq(9L))
  }

  test("partition pruning is ACTION-level: a single-partition read " +
      "touches only that partition's sidecars, before any I/O") {
    val dir = freshDir("cdf_prune")
    TableWriter.write(spark, base, dir, partitionBy = Seq("grp"),
      version = 0L, commitTs = 1000L)
    withCdf(dir)
    // DML touching every partition: sidecars split per changed partition
    TableWriter.updateWhere(spark, dir, col("k") % 2 === 0,
      Map("cents" -> (col("cents") + 1L)), version = 2L, commitTs = 2000L)
    TableWriter.deleteWhere(spark, dir, col("k") % 3 === 0, version = 3L,
      commitTs = 3000L)
    val log = new TxnLog(dir, spark.sessionState.newHadoopConf())
    val sidecars = (2L to 3L).flatMap(v => log.read(v).collect {
      case c: graft.txn.CdcFile => c })
    assert(sidecars.forall(_.partitionValues.keySet == Set("grp")),
      s"sidecars must carry partition values: $sidecars")
    assert(sidecars.map(_.partitionValues("grp")).toSet.size > 1,
      "DML across partitions must split sidecars per partition")
    val filter = Some(Map("grp" -> "1"))
    // equivalence: pruned read == unfiltered read row-filtered
    def canon(df: org.apache.spark.sql.DataFrame) = df
      .select("k", "grp", "cents", TypeCol, VersionCol)
      .collect().map(_.toSeq).toSet
    assert(canon(ChangeDataFeed.tableChanges(spark, dir, 2L, Some(3L),
        partitionFilter = filter)) ==
      canon(ChangeDataFeed.tableChanges(spark, dir, 2L, Some(3L))
        .filter(col("grp") === "1")))
    // the prune happens BEFORE parquet I/O: physically corrupt every
    // OTHER partition's sidecar — the pruned read must still succeed
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    sidecars.filter(_.partitionValues("grp") != "1").foreach { c =>
      val p = new org.apache.hadoop.fs.Path(TxnLog.dataPath(dir, c.path))
      val out = fs.create(p, true)
      out.write("not parquet".getBytes); out.close()
    }
    val pruned = ChangeDataFeed.tableChanges(spark, dir, 2L, Some(3L),
      partitionFilter = filter)
    assert(pruned.count() > 0)
    assert(pruned.inputFiles.forall(_.contains("_change_data/")))
    intercept[Throwable] { // the unfiltered read DOES hit the corruption
      withoutTaskFailureLogs {
        ChangeDataFeed.tableChanges(spark, dir, 2L, Some(3L)).count()
      }
    }
    // the audit prunes the same way (counts match the pruned feed)
    val sm = ChangeDataFeed.changesSummary(spark, dir, 2L, Some(3L),
        partitionFilter = filter)
      .agg(sum(col("n_rows"))).head().getLong(0)
    assert(sm == pruned.count())
  }

  test("partitionPredicate: a date-RANGE feed read never opens " +
      "out-of-range sidecars") {
    val dir = freshDir("cdf_pred")
    import spark.implicits._
    val dated = (0L until 160L).map(k =>
        (k, java.sql.Date.valueOf(f"2024-01-${k % 8 + 1}%02d"), k * 10L))
      .toDF("k", "dt", "cents")
    TableWriter.write(spark, dated, dir, partitionBy = Seq("dt"),
      version = 0L, commitTs = 1000L)
    withCdf(dir)
    TableWriter.updateWhere(spark, dir, col("k") % 2 === 0,
      Map("cents" -> (col("cents") + 1L)), version = 2L, commitTs = 2000L)
    TableWriter.deleteWhere(spark, dir, col("k") % 3 === 0, version = 3L,
      commitTs = 3000L)
    val cut = java.sql.Date.valueOf("2024-01-06")
    val pred = col("dt") >= lit(cut) // the shape equality can't say
    def canon(df: org.apache.spark.sql.DataFrame) = df
      .select("k", "dt", "cents", TypeCol, VersionCol)
      .collect().map(_.toSeq).toSet
    // equivalence: predicate read == unfiltered read row-filtered
    assert(canon(ChangeDataFeed.tableChanges(spark, dir, 2L, Some(3L),
        partitionPredicate = Some(pred))) ==
      canon(ChangeDataFeed.tableChanges(spark, dir, 2L, Some(3L))
        .filter(col("dt") >= lit(cut))))
    // the prune is ACTION-level: corrupt every OUT-OF-RANGE sidecar —
    // the range read must never open one
    val log = new TxnLog(dir, spark.sessionState.newHadoopConf())
    val sidecars = (2L to 3L).flatMap(v => log.read(v).collect {
      case c: graft.txn.CdcFile => c })
    assert(sidecars.forall(_.partitionValues.keySet == Set("dt")))
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    sidecars.filter(c => java.sql.Date.valueOf(
        c.partitionValues("dt")).before(cut)).foreach { c =>
      val p = new org.apache.hadoop.fs.Path(TxnLog.dataPath(dir, c.path))
      val out = fs.create(p, true)
      out.write("not parquet".getBytes); out.close()
    }
    val ranged = ChangeDataFeed.tableChanges(spark, dir, 2L, Some(3L),
      partitionPredicate = Some(pred))
    assert(ranged.count() > 0)
    intercept[Throwable] { // the unfiltered read DOES hit the corruption
      withoutTaskFailureLogs {
        ChangeDataFeed.tableChanges(spark, dir, 2L, Some(3L)).count()
      }
    }
    // the audit prunes the same way (counts match the ranged feed, and
    // the corrupted out-of-range sidecars never open here either)
    val sm = ChangeDataFeed.changesSummary(spark, dir, 2L, Some(3L),
        partitionPredicate = Some(pred))
      .agg(sum(col("n_rows"))).head().getLong(0)
    assert(sm == ranged.count())
    // the SQL TVF's 5th argument takes the same predicate
    graft.functions.GraftExtensions.install(spark)
    assert(canon(spark.sql(
      s"""SELECT k, dt, cents, `$TypeCol`, `$VersionCol`
         |FROM graft_table_changes('$dir', 2, 3, '',
         |  'dt >= DATE''2024-01-06''')""".stripMargin)) == canon(ranged))
    // streaming: the GraftCdf option plans ONLY in-range sidecars — the
    // drain succeeds despite the corrupted out-of-range files and
    // matches the batch read
    val q = spark.readStream.format("graft.sources.GraftCdf")
      .option("tablePath", dir)
      .option("startingVersion", "2")
      .option("partitionPredicate", "dt >= DATE'2024-01-06'")
      .load()
      .writeStream.outputMode("append")
      .format("memory").queryName("cdf_pred_stream")
      .option("checkpointLocation",
        s"target/fixtures/cdf_pred_ckpt_${System.nanoTime()}")
      .start()
    try {
      q.processAllAvailable()
      val streamed = spark.sql(
        s"SELECT k, dt, cents, `$TypeCol`, `$VersionCol` " +
          "FROM cdf_pred_stream")
        .collect().map(_.toSeq).toSet
      assert(streamed == canon(ranged))
    } finally q.stop()
  }

  test("replaceWhere and dynamic partition overwrite write exact change " +
      "records (Delta parity)") {
    import spark.implicits._
    val dir = freshDir("cdf_rw")
    TableWriter.write(spark, base, dir, partitionBy = Seq("grp"),
      version = 0L, commitTs = 1000L)
    withCdf(dir)
    // v2: replace the grp='1' slice (50 rows) with 2 fresh rows
    TableWriter.replaceWhere(spark, dir,
      Seq((1001L, "1", 5L), (1002L, "1", 6L)).toDF("k", "grp", "cents"),
      col("grp") === "1", version = 2L, commitTs = 2000L)
    val v2 = changes(dir, 2L, 2L).groupBy(col(TypeCol))
      .count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(v2 == Map(Delete -> 50L, Insert -> 2L), s"v2: $v2")
    // v3: dynamically overwrite the grp='2' partition with 1 row
    TableWriter.overwritePartitionsDynamic(spark, dir,
      Seq((2002L, "2", 7L)).toDF("k", "grp", "cents"),
      version = 3L, commitTs = 3000L)
    val v3 = changes(dir, 3L, 3L).groupBy(col(TypeCol))
      .count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(v3 == Map(Delete -> 50L, Insert -> 1L), s"v3: $v3")
    // sidecars carry partition values (action-level pruning works), and
    // a grp='3' pruned read of v2..v3 is empty (untouched partition)
    val log = new TxnLog(dir, spark.sessionState.newHadoopConf())
    val sidecars = (2L to 3L).flatMap(v => log.read(v).collect {
      case c: graft.txn.CdcFile => c })
    assert(sidecars.nonEmpty &&
      sidecars.forall(_.partitionValues.keySet == Set("grp")))
    assert(ChangeDataFeed.tableChanges(spark, dir, 2L, Some(3L),
      partitionFilter = Some(Map("grp" -> "3"))).count() == 0L)
  }

  test("column pruning pushes into sidecar scans: a one-column delta " +
      "reads one payload column of the KB sidecars") {
    val dir = freshDir("cdf_colprune")
    TableWriter.write(spark, base, dir, version = 0L, commitTs = 1000L)
    withCdf(dir)
    TableWriter.updateWhere(spark, dir, col("k") % 9 === 0,
      Map("cents" -> (col("cents") + 2L)), version = 2L, commitTs = 2000L)
    // the consumer wants (type, cents) — the parquet scan over
    // _change_data must read exactly those, not k/grp (Catalyst prunes
    // through the feed's unions; this is what keeps a one-column MV
    // delta at one-column sidecar I/O)
    val df = ChangeDataFeed.tableChanges(spark, dir, 2L, Some(2L))
      .select(col(TypeCol), col("cents"))
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("_change_data"), s"expected a sidecar scan:\n$p")
    assert(p.contains("ReadSchema") && !p.contains("grp"),
      s"unrequested payload columns must not be read:\n$p")
  }

  test("partition filter on an unpartitioned table row-filters legacy " +
      "pv-less sidecars") {
    val dir = freshDir("cdf_prune_legacy")
    TableWriter.write(spark, base, dir, version = 0L, commitTs = 1000L)
    withCdf(dir)
    TableWriter.updateWhere(spark, dir, col("k") % 2 === 0,
      Map("cents" -> (col("cents") + 1L)), version = 2L, commitTs = 2000L)
    val got = ChangeDataFeed.tableChanges(spark, dir, 2L, Some(2L),
        partitionFilter = Some(Map("grp" -> "2")))
      .select("k", TypeCol).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    val want = ChangeDataFeed.tableChanges(spark, dir, 2L, Some(2L))
      .filter(col("grp") === "2")
      .select("k", TypeCol).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got == want && got.nonEmpty)
  }

  test("SQL TVF graft_table_changes serves the feed") {
    val dir = freshDir("cdf_tvf")
    TableWriter.write(spark, base, dir, version = 0L, commitTs = 1000L)
    withCdf(dir)
    TableWriter.updateWhere(spark, dir, col("k") === 7L,
      Map("cents" -> lit(999L)), version = 2L, commitTs = 2000L)
    graft.functions.GraftExtensions.install(spark)
    val rows = spark.sql(
      s"""SELECT _change_type, cents FROM graft_table_changes('$dir', 2, 2)
         |ORDER BY _change_type""".stripMargin)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(rows == Seq((UpdatePost, 999L), (UpdatePre, 70L)))
  }
}

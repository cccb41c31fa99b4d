package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.txn._

/** Deletion vectors: row-level delete without file rewrite. Covers the
  * sidecar layout, per-version reads, vector union, CDC 'd' emission,
  * purge (fold-back), vacuum protection, and the protocol/streaming
  * guards.
  */
class DeletionVectorSpec extends AnyFunSuite {
  import SparkTestSession._

  private lazy val li = Tables.load(spark, sf, "lineitem")
    .filter(col("l_orderkey") % 7 === 0)
  private lazy val table = queries.Maintenance.dvFixture(spark, sf)

  private def log = new TxnLog(table, spark.sessionState.newHadoopConf())

  test("DV delete rewrites no data file — only pointers move") {
    val v0 = log.snapshot(0L).files
    val v1 = log.snapshot(1L).files
    assert(v0.map(_.path).toSet == v1.map(_.path).toSet)
    assert(v0.forall(_.dv.isEmpty))
    // files containing a matched row carry a vector; sizes unchanged
    assert(v1.exists(_.dv.isDefined))
    val sizes0 = v0.map(f => f.path -> f.size).toMap
    assert(v1.forall(f => sizes0(f.path) == f.size))
  }

  test("reads subtract dead rows, per version (time travel included)") {
    val all = li.count()
    val after1 = li.filter(col("l_suppkey") % 5 =!= 0).count()
    val after2 = li.filter(col("l_suppkey") % 5 =!= 0 &&
      col("l_partkey") % 3 =!= 0).count()
    assert(SnapshotReader.read(spark, table, versionAsOf = Some(0L)).count() == all)
    assert(SnapshotReader.read(spark, table, versionAsOf = Some(1L)).count() == after1)
    assert(SnapshotReader.read(spark, table).count() == after2)
  }

  test("second delete unions the vector, keeping original deleted_at") {
    // the v2 vector must carry BOTH versions' dead rows for re-affected
    // files (pointers replace, never chain)
    val ptrs = log.snapshot(2L).files.flatMap(_.dv).distinct
    val v2dv = spark.read.parquet(ptrs.map(d => s"$table/$d"): _*)
    val byVersion = v2dv.groupBy("deleted_at").count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(byVersion.contains(2L))
    assert(byVersion.contains(1L), "carried rows must keep deleted_at=1")
  }

  test("protocol bumped to reader v2 by the first DV commit") {
    val p = log.snapshotLatest().protocol
    assert(p.exists(_.minReaderVersion == 2))
  }

  test("CDC emits 'd' rows exactly for newly-dead rows, never 'r'") {
    val cdc = CdcReader.cdc(spark, table, startingVersion = 0L,
      includeHistory = true).cache()
    try {
      assert(cdc.filter(col("op") === "r").count() == 0)
      assert(cdc.filter(col("op") === "c").count() == li.count())
      val d1 = cdc.filter(col("op") === "d" && col("commit_version") === 1)
      val d2 = cdc.filter(col("op") === "d" && col("commit_version") === 2)
      assert(d1.count() == li.filter(col("l_suppkey") % 5 === 0).count())
      // v2 kills only rows v1 left alive
      assert(d2.count() == li.filter(col("l_partkey") % 3 === 0 &&
        col("l_suppkey") % 5 =!= 0).count())
      // payloads are the dead rows themselves
      assert(d1.filter(col("l_suppkey") % 5 =!= 0).count() == 0)
    } finally cdc.unpersist()
  }

  test("CDC snapshot phase of a DV table emits live rows only") {
    // starting AT v2, the FULL_COPY phase must apply both vectors
    val snap = CdcReader.cdc(spark, table, startingVersion = 2L,
      includeHistory = true)
    assert(snap.filter(col("op") === "c").count() ==
      li.filter(col("l_suppkey") % 5 =!= 0 &&
        col("l_partkey") % 3 =!= 0).count())
  }

  test("purge folds vectors into plain files, CDC-invisibly") {
    // work on a copy so the shared fixture stays at v2
    val dir = s"target/fixtures/dv_purge_${sf.replaceAll("[^a-zA-Z0-9]", "_")}"
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    fs.delete(new org.apache.hadoop.fs.Path(dir), true)
    TableWriter.write(spark, li, dir, partitionBy = Seq("l_returnflag"),
      version = 0L, commitTs = 1000L)
    DeletionVectors.deleteWhere(spark, dir, col("l_suppkey") % 5 === 0,
      version = 1L, commitTs = 2000L)
    val expected = li.filter(col("l_suppkey") % 5 =!= 0).count()
    val adds = DeletionVectors.purge(spark, dir, version = 2L, commitTs = 3000L)
    assert(adds.nonEmpty && adds.forall(_.dv.isEmpty))
    val l = new TxnLog(dir, spark.sessionState.newHadoopConf())
    assert(l.snapshotLatest().files.forall(_.dv.isEmpty))
    assert(SnapshotReader.read(spark, dir).count() == expected)
    // reorganization: a full-history replay sees nothing from the purge
    // commit (and the incremental range (1, ∞) is now legitimately empty
    // — the strict reader refuses it as a caller error)
    val replay = CdcReader.cdc(spark, dir, startingVersion = 0L,
      includeHistory = true)
    assert(replay.filter(col("commit_version") === 2).count() == 0)
    intercept[IllegalArgumentException] {
      CdcReader.cdc(spark, dir, startingVersion = 1L,
        includeHistory = false).count()
    }
  }

  test("writer protocol guard: a higher-protocol table refuses mutation") {
    val dir = s"target/fixtures/dv_proto_${sf.replaceAll("[^a-zA-Z0-9]", "_")}"
    val conf = spark.sessionState.newHadoopConf()
    val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(conf)
    fs.delete(new org.apache.hadoop.fs.Path(dir), true)
    TableWriter.write(spark, li.limit(10), dir, version = 0L, commitTs = 1000L)
    // a future engine bumps the writer requirement past what we support
    new TxnLog(dir, conf).commit(1L, Seq(Protocol(2, 99)))
    intercept[UnsupportedOperationException] {
      TableWriter.deleteWhere(spark, dir, col("l_orderkey") >= 0,
        version = 2L, commitTs = 2000L)
    }
    intercept[UnsupportedOperationException] {
      DeletionVectors.deleteWhere(spark, dir, col("l_orderkey") >= 0,
        version = 2L, commitTs = 2000L)
    }
    // a schema-evolution commit must not BYPASS the guard: carrying a
    // Metadata action skips schema enforcement, never the protocol check
    intercept[UnsupportedOperationException] {
      val evolved = li.limit(10).withColumn("extra", lit(1L))
      TableWriter.write(spark, evolved, dir, version = 2L, commitTs = 2000L,
        extraActions = Seq(Metadata(evolved.schema.json, Seq.empty)))
    }
  }

  test("RESTORE refuses a version whose DV sidecar was vacuumed") {
    val dir = s"target/fixtures/dv_restore_vac_${sf.replaceAll("[^a-zA-Z0-9]", "_")}"
    val conf = spark.sessionState.newHadoopConf()
    val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(conf)
    fs.delete(new org.apache.hadoop.fs.Path(dir), true)
    TableWriter.write(spark, li, dir, partitionBy = Seq("l_returnflag"),
      version = 0L, commitTs = 1000L)
    DeletionVectors.deleteWhere(spark, dir, col("l_suppkey") % 5 === 0,
      version = 1L, commitTs = 2000L)
    DeletionVectors.deleteWhere(spark, dir, col("l_partkey") % 3 === 0,
      version = 2L, commitTs = 3000L)
    // vacuum reclaims the superseded dv-1 sidecar
    TableWriter.vacuum(spark, dir, retainMillis = 0L,
      nowMillis = System.currentTimeMillis() + 1000L * 86400)
    val dv1 = new TxnLog(dir, spark.sessionState.newHadoopConf())
      .snapshot(1L).files.flatMap(_.dv).distinct
    assert(dv1.nonEmpty && dv1.forall(d =>
      !fs.exists(new org.apache.hadoop.fs.Path(dir, d))))
    // restoring to v1 would re-commit pointers at the missing dv-1 dir —
    // every subsequent read would fail; the restore must refuse instead
    val e = intercept[IllegalStateException] {
      TableWriter.restore(spark, dir, toVersion = 1L,
        version = 3L, commitTs = 4000L)
    }
    assert(e.getMessage.contains("deletion vector"))
    // the refusal left no commit behind: the table still reads at v2 state
    assert(new TxnLog(dir, conf).latestVersion().contains(2L))
  }

  test("DV pointers survive a parquet checkpoint") {
    val conf = spark.sessionState.newHadoopConf()
    val l = new TxnLog(table, conf)
    val v = l.latestVersion().get
    l.writeCheckpoint(v)
    try {
      // a fresh log resolves from the checkpoint (+ empty tail) and must
      // still see the vectors — a dropped pointer would resurrect rows
      val l2 = new TxnLog(table, conf)
      val snap = l2.snapshot(v)
      assert(l2.checkpointVersions().contains(v))
      assert(snap.files.exists(_.dv.isDefined))
      assert(SnapshotReader.read(spark, table).count() ==
        li.filter(col("l_suppkey") % 5 =!= 0 &&
          col("l_partkey") % 3 =!= 0).count())
    } finally {
      // leave the shared fixture checkpoint-free for other tests
      val fs = new org.apache.hadoop.fs.Path(table).getFileSystem(conf)
      fs.delete(new org.apache.hadoop.fs.Path(table,
        f"_txn_log/$v%020d.checkpoint.parquet"), false)
    }
  }

  test("RESTORE to a pre-DV version resurrects rows as a new commit") {
    val dir = s"target/fixtures/dv_restore_${sf.replaceAll("[^a-zA-Z0-9]", "_")}"
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    fs.delete(new org.apache.hadoop.fs.Path(dir), true)
    TableWriter.write(spark, li, dir, partitionBy = Seq("l_returnflag"),
      version = 0L, commitTs = 1000L)
    DeletionVectors.deleteWhere(spark, dir, col("l_suppkey") % 5 === 0,
      version = 1L, commitTs = 2000L)
    TableWriter.restore(spark, dir, toVersion = 0L,
      version = 2L, commitTs = 3000L)
    // restore swaps back the DV-free AddFiles: full row set, history kept
    assert(SnapshotReader.read(spark, dir).count() == li.count())
    assert(SnapshotReader.read(spark, dir, versionAsOf = Some(1L)).count() ==
      li.filter(col("l_suppkey") % 5 =!= 0).count())
  }

  test("schema evolution composes with deletion vectors") {
    import spark.implicits._
    val dir = s"target/fixtures/dv_evolve_${sf.replaceAll("[^a-zA-Z0-9]", "_")}"
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    fs.delete(new org.apache.hadoop.fs.Path(dir), true)
    val a = (0L until 10L).map(i => (i, s"t$i")).toDF("id", "text")
    TableWriter.write(spark, a, dir, version = 0L, commitTs = 1000L)
    DeletionVectors.deleteWhere(spark, dir, col("id") % 2 === 0,
      version = 1L, commitTs = 2000L)
    // add-column commit: old (DV-carrying) files surface `score` as null
    val b = (10L until 15L).map(i => (i, s"t$i", i * 1.0))
      .toDF("id", "text", "score")
    TableWriter.write(spark, b, dir, version = 2L, commitTs = 3000L,
      extraActions = Seq(Metadata(b.schema.json, Seq.empty)))
    val got = SnapshotReader.read(spark, dir)
    assert(got.count() == 5 + 5) // odd ids of A + all of B
    assert(got.filter(col("id") % 2 === 0 && col("id") < 10).count() == 0,
      "evolution must not resurrect DV-deleted rows")
    assert(got.filter(col("id") < 10 && col("score").isNotNull).count() == 0,
      "pre-evolution files surface the new column as null")
    // and a DV delete AFTER evolution can reference the new column
    DeletionVectors.deleteWhere(spark, dir, col("score") >= 13.0,
      version = 3L, commitTs = 4000L)
    assert(SnapshotReader.read(spark, dir).count() == 8)
  }

  test("per-user erasure: DV delete, 'd' audit, purge, vacuum — gone") {
    val dir = s"target/fixtures/dv_erase_${sf.replaceAll("[^a-zA-Z0-9]", "_")}"
    val conf = spark.sessionState.newHadoopConf()
    val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(conf)
    fs.delete(new org.apache.hadoop.fs.Path(dir), true)
    TableWriter.write(spark, li, dir, partitionBy = Seq("l_returnflag"),
      version = 0L, commitTs = 1000L)
    val victim = col("l_suppkey") % 97 === 1 // the erasure-request cohort
    val nVictim = li.filter(victim).count()
    assert(nVictim > 0)
    // 1. erase cheaply (no file rewritten), 2. the CDC 'd' stream IS the
    // audit trail, 3. purge physically rewrites off the hot path,
    // 4. vacuum reclaims the originals after the retention horizon
    DeletionVectors.deleteWhere(spark, dir, victim, 1L, commitTs = 2000L)
    val audit = CdcReader.cdc(spark, dir, startingVersion = 0L,
      includeHistory = true).filter(col("op") === "d")
    assert(audit.count() == nVictim)
    DeletionVectors.purge(spark, dir, 2L, commitTs = 3000L)
    TableWriter.vacuum(spark, dir, retainMillis = 0L,
      nowMillis = System.currentTimeMillis() + 1000L * 86400)
    val remaining = SnapshotReader.read(spark, dir)
    assert(remaining.filter(victim).count() == 0)
    assert(remaining.count() == li.count() - nVictim)
    // the erased bytes are physically gone: no pre-purge data file and no
    // DV sidecar survives the vacuum
    val l = new TxnLog(dir, conf)
    val live = l.snapshotLatest().files.map(_.path).toSet
    assert(live.forall(p => fs.exists(new org.apache.hadoop.fs.Path(dir, p))))
    val dv1p = l.snapshot(1L).files.flatMap(_.dv).distinct
    assert(dv1p.forall(d =>
      !fs.exists(new org.apache.hadoop.fs.Path(dir, d)) ||
        fs.listStatus(new org.apache.hadoop.fs.Path(dir, d)).isEmpty),
      "purged+vacuumed DV sidecars should not linger")
  }

  test("vacuum spares live DV dirs, reclaims superseded ones") {
    // own copy: the sweep of superseded vectors breaks pre-horizon time
    // travel by design, and the shared fixture's other tests need v1
    val dir = s"target/fixtures/dv_vac_${sf.replaceAll("[^a-zA-Z0-9]", "_")}"
    val conf = spark.sessionState.newHadoopConf()
    val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(conf)
    fs.delete(new org.apache.hadoop.fs.Path(dir), true)
    TableWriter.write(spark, li, dir, partitionBy = Seq("l_returnflag"),
      version = 0L, commitTs = 1000L)
    DeletionVectors.deleteWhere(spark, dir, col("l_suppkey") % 5 === 0,
      version = 1L, commitTs = 2000L)
    DeletionVectors.deleteWhere(spark, dir, col("l_partkey") % 3 === 0,
      version = 2L, commitTs = 3000L)
    val before = SnapshotReader.read(spark, dir).count()
    // far-future now, zero retention: everything unprotected goes
    TableWriter.vacuum(spark, dir, retainMillis = 0L,
      nowMillis = System.currentTimeMillis() + 1000L * 86400)
    // the LIVE vector (dv-2, which carries both versions' rows) survives;
    // the superseded dv-1 dir is reclaimed like a removed data file
    assert(SnapshotReader.read(spark, dir).count() == before)
    val l2 = new TxnLog(dir, spark.sessionState.newHadoopConf())
    val liveDv = l2.snapshot(2L).files.flatMap(_.dv).distinct
    val oldDv = l2.snapshot(1L).files.flatMap(_.dv).distinct
    assert(liveDv.nonEmpty && liveDv.forall(d =>
      fs.exists(new org.apache.hadoop.fs.Path(dir, d))))
    assert(oldDv.nonEmpty && oldDv.forall(d =>
      !fs.exists(new org.apache.hadoop.fs.Path(dir, d))))
  }

  test("DV-aware paths: merge, delete, and skipping never resurrect") {
    val deadPred = col("l_suppkey") % 5 === 0 || col("l_partkey") % 3 === 0
    // data-skipping read applies vectors
    val viaSkip = DataSkipping
      .readWhere(spark, table, col("l_orderkey") >= 0)
      .filter(deadPred).count()
    assert(viaSkip == 0)
    // rewrite-style delete on a DV table keeps prior deletes dead
    val dir = s"target/fixtures/dv_mix_${sf.replaceAll("[^a-zA-Z0-9]", "_")}"
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    fs.delete(new org.apache.hadoop.fs.Path(dir), true)
    TableWriter.write(spark, li, dir, partitionBy = Seq("l_returnflag"),
      version = 0L, commitTs = 1000L)
    DeletionVectors.deleteWhere(spark, dir, col("l_suppkey") % 5 === 0,
      version = 1L, commitTs = 2000L)
    TableWriter.deleteWhere(spark, dir, col("l_partkey") % 3 === 0,
      version = 2L, commitTs = 3000L)
    val got = SnapshotReader.read(spark, dir).count()
    assert(got == li.filter(col("l_suppkey") % 5 =!= 0 &&
      col("l_partkey") % 3 =!= 0).count())
  }

  // fixture: DV delete at v1, then a rewrite-style delete at v2 that
  // REMOVES the DV-carrying files — the replay-resurrection scenario
  private lazy val rewriteTable: String = {
    val dir = s"target/fixtures/dv_rewrite_${sf.replaceAll("[^a-zA-Z0-9]", "_")}"
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    fs.delete(new org.apache.hadoop.fs.Path(dir), true)
    TableWriter.write(spark, li, dir, partitionBy = Seq("l_returnflag"),
      version = 0L, commitTs = 1000L)
    DeletionVectors.deleteWhere(spark, dir, col("l_suppkey") % 5 === 0,
      version = 1L, commitTs = 2000L)
    TableWriter.deleteWhere(spark, dir, col("l_partkey") % 3 === 0,
      version = 2L, commitTs = 3000L)
    dir
  }

  test("CDC replay: removing a DV file emits only its LIVE rows as 'r'") {
    val cdc = CdcReader.cdc(spark, rewriteTable, startingVersion = 0L,
      includeHistory = true).cache()
    try {
      val d1 = cdc.filter(col("op") === "d" && col("commit_version") === 1)
      assert(d1.count() == li.filter(col("l_suppkey") % 5 === 0).count())
      val r2 = cdc.filter(col("op") === "r" && col("commit_version") === 2)
      // rows the v1 vector killed must NOT resurrect as 'r' at v2
      assert(r2.filter(col("l_suppkey") % 5 === 0).count() == 0,
        "rewrite-remove of a DV file re-emitted DV-dead rows")
      // self-consistency of the v2 rewrite: removed live rows = rewritten
      // survivors + the rows the v2 delete killed (per affected file)
      val c2 = cdc.filter(col("op") === "c" && col("commit_version") === 2)
      val killedV2 = li.filter(col("l_partkey") % 3 === 0 &&
        col("l_suppkey") % 5 =!= 0).count()
      assert(r2.count() == c2.count() + killedV2)
    } finally cdc.unpersist()
  }

  test("streaming CDC replay over a rewrite-removed DV file: no resurrection") {
    val q = spark.readStream.format("graft.sources.GraftCdc")
      .option("tablePath", rewriteTable)
      .option("startingVersion", "0")
      .option("includeHistory", "true")
      .load()
      .writeStream.outputMode("append")
      .format("memory").queryName("dv_rewrite_stream")
      .option("checkpointLocation",
        s"target/fixtures/dv_stream_ckpt_${System.nanoTime()}")
      .start()
    try {
      q.processAllAvailable()
      val bad = spark.sql(
        "SELECT COUNT(*) FROM dv_rewrite_stream " +
          "WHERE op = 'r' AND commit_version = 2 AND l_suppkey % 5 = 0")
        .collect()(0).getLong(0)
      assert(bad == 0, "streaming 'r' of a removed DV file resurrected dead rows")
      val counts = spark.sql(
        "SELECT op, commit_version, COUNT(*) AS n FROM dv_rewrite_stream " +
          "GROUP BY op, commit_version").collect()
        .map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
      assert(counts(("c", 0L)) == li.count())
      assert(counts(("d", 1L)) ==
        li.filter(col("l_suppkey") % 5 === 0).count())
      val killedV2 = li.filter(col("l_partkey") % 3 === 0 &&
        col("l_suppkey") % 5 =!= 0).count()
      assert(counts(("r", 2L)) == counts.getOrElse(("c", 2L), 0L) + killedV2)
    } finally q.stop()
  }

  test("streaming CDC over a DV table: 'd' rows per version, no 'r'") {
    val q = spark.readStream.format("graft.sources.GraftCdc")
      .option("tablePath", table)
      .option("startingVersion", "0")
      .option("includeHistory", "true")
      .load()
      .writeStream.outputMode("append")
      .format("memory").queryName("dv_stream_out")
      .option("checkpointLocation",
        s"target/fixtures/dv_stream_ckpt_${System.nanoTime()}")
      .start()
    try {
      q.processAllAvailable()
      val got = spark.sql(
        "SELECT op, commit_version, COUNT(*) AS n FROM dv_stream_out " +
          "GROUP BY op, commit_version ORDER BY op, commit_version")
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
      val all = li.count()
      val d1 = li.filter(col("l_suppkey") % 5 === 0).count()
      val d2 = li.filter(col("l_partkey") % 3 === 0 &&
        col("l_suppkey") % 5 =!= 0).count()
      // snapshot at v0 is DV-free (full rows); each delete then streams
      // exactly its newly-dead rows as 'd'; never a whole-file 'r'
      assert(got == Seq(("c", 0L, all), ("d", 1L, d1), ("d", 2L, d2)),
        s"got $got")
      // payload sanity: the 'd' rows ARE the dead rows
      val bad = spark.sql(
        "SELECT COUNT(*) FROM dv_stream_out " +
          "WHERE op = 'd' AND commit_version = 1 AND l_suppkey % 5 <> 0")
        .collect()(0).getLong(0)
      assert(bad == 0)
    } finally q.stop()
  }

  test("wide delete: bitmap sidecar is orders of magnitude under row encoding") {
    val path = s"target/fixtures/dv_wide_${System.nanoTime()}"
    import spark.implicits._
    val n = 200000L
    TableWriter.write(spark,
      (0L until n).toDF("id").repartition(2),
      path, version = 0L, commitTs = 1000L)
    DeletionVectors.deleteWhere(spark, path, col("id") % 2 === 0,
      version = 1L, commitTs = 2000L)
    val l = new TxnLog(path, spark.sessionState.newHadoopConf())
    assert(SnapshotReader.read(spark, path).count() == n / 2)
    // the vector holds 100k dead positions; pin it well under ONE byte
    // per dead row AND strictly smaller than the legacy row-per-dead-row
    // parquet encoding of the very same handles
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sessionState.newHadoopConf())
    def bytesUnder(dir: String): Long =
      fs.listStatus(new org.apache.hadoop.fs.Path(path, dir))
        .filter(_.getPath.getName.endsWith(".parquet")).map(_.getLen).sum
    val dvBytes = l.snapshotLatest().files.flatMap(_.dv).distinct
      .map(bytesUnder).sum
    assert(dvBytes < n / 2,
      s"bitmap sidecar is $dvBytes bytes for ${n / 2} dead rows")
    val oneName = new org.apache.hadoop.fs.Path(
      l.snapshotLatest().files.head.path).getName
    val handles = (0L until n / 2).map(i => (oneName, i * 2, 1L))
      .toDF("file_name", "row_index", "deleted_at")
    handles.coalesce(1).write.parquet(s"$path/.legacy_shape")
    val legacyBytes = bytesUnder(".legacy_shape")
    assert(dvBytes * 4 < legacyBytes,
      s"bitmap $dvBytes must be well under the row encoding $legacyBytes")
    // cardinality rides the sidecar: the count answers without expansion
    val counted = DeletionVectors.deletedCount(spark, path,
        l.snapshotLatest().files)
    assert(counted == n / 2)
  }

  test("vacuum sweeps STALE staging leftovers, spares fresh ones") {
    val path = s"target/fixtures/dv_staging_${System.nanoTime()}"
    import spark.implicits._
    TableWriter.write(spark, (0L until 10L).toDF("id"), path,
      version = 0L, commitTs = 1000L)
    val conf = spark.sessionState.newHadoopConf()
    val fs = new org.apache.hadoop.fs.Path(path).getFileSystem(conf)
    // a crashed writer's leftover: staged parquet that never renamed
    val stale = new org.apache.hadoop.fs.Path(path, ".staging-dv-7-dead")
    fs.mkdirs(stale)
    val staleInner = new org.apache.hadoop.fs.Path(stale, "part-x.parquet")
    fs.create(staleInner).close()
    // staleness is judged by the NEWEST file INSIDE the dir (a live
    // writer keeps producing; a dir's own mtime can be creation time on
    // object stores) — a dead writer's files all age out together
    fs.setTimes(staleInner, 1000L, -1L)
    fs.setTimes(stale, 1000L, -1L)
    val fresh = new org.apache.hadoop.fs.Path(path, ".staging-rlh-live")
    fs.mkdirs(fresh)
    // a long-running statement's staging with a FRESH file inside must
    // survive even if the dir's own mtime looks ancient
    val freshInner = new org.apache.hadoop.fs.Path(fresh, "part-y.parquet")
    fs.create(freshInner).close()
    fs.setTimes(fresh, 1000L, -1L)
    val swept = TableWriter.vacuum(spark, path, retainMillis = 3600 * 1000L,
      nowMillis = System.currentTimeMillis())
    assert(swept.contains(".staging-dv-7-dead"), swept)
    assert(!fs.exists(stale), "the stale staging dir must be reclaimed")
    assert(fs.exists(fresh),
      "an in-horizon staging dir may belong to an in-flight commit")
    assert(SnapshotReader.read(spark, path).count() == 10L)
  }

  test("legacy row-per-dead-row sidecars read forever (mixed-format table)") {
    val path = s"target/fixtures/dv_legacy_${System.nanoTime()}"
    import spark.implicits._
    TableWriter.write(spark, (0L until 100L).toDF("id").coalesce(1),
      path, version = 0L, commitTs = 1000L)
    val l = new TxnLog(path, spark.sessionState.newHadoopConf())
    val f0 = l.snapshotLatest().files.head
    val fn = new org.apache.hadoop.fs.Path(f0.path).getName
    // hand-write a LEGACY-format vector (one parquet row per dead row:
    // positions 0..9 died at version 1) and commit the pointer
    val rel = DeletionVectors.dvDir(1L)
    (0L until 10L).map(i => (fn, i, 1L))
      .toDF("file_name", "row_index", "deleted_at")
      .coalesce(1).write.parquet(s"$path/$rel")
    l.commit(1L, Seq(
      Protocol(2, 2),
      RemoveFile(f0.path, 2000L, f0.partitionValues),
      f0.copy(modificationTime = 2000L, dv = Some(rel)),
      CommitInfo("DELETE_DV", 2000L)))
    assert(SnapshotReader.read(spark, path).count() == 90L)
    assert(SnapshotReader.read(spark, path)
      .agg(min(col("id"))).head().getLong(0) == 10L)
    // a SECOND (bitmap-era) delete carries the legacy kills forward
    DeletionVectors.deleteWhere(spark, path, col("id") >= 95L,
      version = 2L, commitTs = 3000L)
    assert(SnapshotReader.read(spark, path).count() == 85L)
    val counted = DeletionVectors.deletedCount(spark, path,
        l.snapshotLatest().files)
    assert(counted == 15L)
  }

  test("streaming snapshot STARTING at a DV version emits live rows only") {
    val q = spark.readStream.format("graft.sources.GraftCdc")
      .option("tablePath", table)
      .option("startingVersion", "2")
      .option("includeHistory", "true")
      .load()
      .writeStream.outputMode("append")
      .format("memory").queryName("dv_stream_snap")
      .option("checkpointLocation",
        s"target/fixtures/dv_stream_ckpt_${System.nanoTime()}")
      .start()
    try {
      q.processAllAvailable()
      val n = spark.sql("SELECT COUNT(*) FROM dv_stream_snap WHERE op = 'c'")
        .collect()(0).getLong(0)
      assert(n == li.filter(col("l_suppkey") % 5 =!= 0 &&
        col("l_partkey") % 3 =!= 0).count())
    } finally q.stop()
  }
}

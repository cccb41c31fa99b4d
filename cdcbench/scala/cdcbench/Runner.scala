package cdcbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import graft.streaming.GraftTableSink
import graft.txn.{AddFile, CdcReader, RemoveFile, SnapshotReader, TableWriter, TxnLog}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

final case class TableRef(sqlName: String, path: String)

/** What one write must change: the model's figure difference, the rows
  * it changes, the change-feed rows by `_change_type`, and which CDC ops
  * its tail events may carry ("c" only, no "c", no "d", or any).
  */
final case class Expect(version: Long, kind: String, delta: Fig, changed: Long,
    cdf: Map[String, Fig], events: String)

/** Attempted / failed operations, time and rows, per kind of operation. */
final class Stats {
  final class Kind {
    var attempted = 0L
    var failed = 0L
    val ms = mutable.ArrayBuffer.empty[Double]
    var rows = 0L
  }
  val kinds = mutable.LinkedHashMap.empty[String, Kind]
  def apply(k: String): Kind = kinds.getOrElseUpdate(k, new Kind)
  // the traced run's standalone log calls are instruments, not workload operations
  private def workload = kinds.filterNot(_._1.startsWith("log_")).values
  def attempted: Long = workload.map(_.attempted).sum
  def failed: Long = workload.map(_.failed).sum
  /** summed rows / summed seconds over the given kinds */
  def rate(ks: Seq[String]): Double = {
    val rows = ks.map(apply(_).rows).sum
    val ms = ks.flatMap(apply(_).ms).sum
    if (ms > 0) rows / (ms / 1000.0) else 0.0
  }
  def meanMs(ks: Seq[String]): Double = {
    val v = ks.flatMap(apply(_).ms)
    if (v.isEmpty) 0.0 else v.sum / v.size
  }
}

/** Check failures; a run is correct when there are none. */
final class Checks {
  val failures = mutable.ArrayBuffer.empty[String]
  def expect(ok: Boolean, what: => String): Unit =
    if (!ok) {
      failures += what
      System.err.println(s"[cdcbench] CHECK FAILED: $what")
    }
}

object Runner {
  val Writes = Seq("append", "sink_batch", "merge", "update", "delete_dv", "delete_cow")
  val DsV2Scans = Seq("scan_dsv2", "scan_dsv2_version", "scan_dsv2_filter")
  val V1Scans = Seq("scan_v1", "scan_v1_timestamp", "scan_v1_filter")
  val Scans: Seq[String] = DsV2Scans ++ V1Scans
  val TimeTravel = Seq("scan_dsv2_version", "scan_v1_timestamp")
  val Backfills = Seq("backfill_stream", "backfill_batch")

  def layerOf(kind: String): String =
    if (Writes.contains(kind)) "commit"
    else if (Scans.contains(kind)) "scan"
    else if (kind == "cdf_read") "cdf"
    else if (kind.startsWith("log_")) "log"
    else "cdc"

  /** count, checksum, non-'c' rows, max commit_version, bad partition_value */
  val BackfillAgg: Seq[org.apache.spark.sql.Column] = Seq(
    count(lit(1)), sum(Fig.hash()),
    sum(when(col("op") =!= "c", 1L).otherwise(0L)), max(col("commit_version")),
    sum(when(col("partition_value") =!= concat(lit("p="), col("p").cast("string")), 1L)
      .otherwise(0L)))

  /** operation ids, unique within the JVM */
  val opSeq = new java.util.concurrent.atomic.AtomicLong(0L)

  private val clockBaseMs = System.currentTimeMillis().toDouble
  private val clockBaseNs = System.nanoTime()
  /** epoch milliseconds of a System.nanoTime reading */
  def clockMs(ns: Long): Double = clockBaseMs + (ns - clockBaseNs) / 1e6
}

/** The long-running `graft-cdc` tail. Its sink keeps, per micro-batch id,
  * the change events it received grouped by (commit_version, op); a
  * replayed batch id replaces its earlier record (an idempotent sink), so
  * a version seen in two batch ids was delivered twice.
  */
final class Tail(spark: SparkSession, path: String, startVersion: Long,
    checkpoint: String, name: String, trace: Option[Tracer]) {
  /** (version, op) -> (rows, checksum, bad partition values) */
  final case class Batch(receivedNs: Long, events: Map[(Long, String), (Long, Long, Long)])
  val batches = new ConcurrentHashMap[Long, Batch]()
  private val lock = new Object
  private var query: StreamingQuery = _

  def start(): Unit = {
    val prev = spark.sparkContext.getLocalProperty(Tracer.OpKey)
    spark.sparkContext.setLocalProperty(Tracer.OpKey, Tracer.TailOp.toString)
    try {
      query = spark.readStream.format("graft-cdc")
        .option("tablePath", path)
        .option("startingVersion", startVersion.toString)
        .option("includeHistory", "false")
        .load()
        .writeStream.queryName(name)
        .option("checkpointLocation", checkpoint)
        .foreachBatch { (df: DataFrame, id: Long) => receive(df, id) }
        .start()
      CountingFs.tailId = query.id.toString
      CountingFs.tailName = name
    } finally spark.sparkContext.setLocalProperty(Tracer.OpKey, prev)
  }

  // a delivery is small (one commit's change events): the sink takes the
  // rows themselves and groups them here
  private def receive(df: DataFrame, id: Long): Unit = {
    trace.foreach(_.tailSessions.add(df.sparkSession))
    val rows = df.select(col("commit_version"), col("op"), Fig.hash(),
      (col("partition_value") =!= concat(lit("p="), col("p").cast("string"))).cast("long"))
      .collect()
    val events = rows.groupMapReduce(r => (r.getLong(0), r.getString(1)))(r =>
      (1L, r.getLong(2), r.getLong(3)))((x, y) => (x._1 + y._1, x._2 + y._2, x._3 + y._3))
    batches.put(id, Batch(System.nanoTime(), events))
    lock.synchronized(lock.notifyAll())
  }

  /** Receipt time of the first batch that carried `v`, waiting up to
    * `timeoutMs`.
    */
  def await(v: Long, timeoutMs: Long): Option[Long] = {
    val deadline = System.nanoTime() + timeoutMs * 1000000L
    def seen: Option[Long] = batches.values.asScala
      .filter(_.events.keys.exists(_._1 == v)).map(_.receivedNs).minOption
    lock.synchronized {
      var s = seen
      while (s.isEmpty && System.nanoTime() < deadline && query.isActive) {
        lock.wait(5)
        s = seen
      }
      s
    }
  }

  /** Restart from the checkpoint; returns once the restarted query has
    * caught up with the log.
    */
  def restart(): Unit = {
    stop()
    start()
    query.processAllAvailable()
  }

  def stop(): Unit = if (query != null) query.stop()

  def failure: Option[String] =
    Option(query).flatMap(_.exception).map(_.getMessage)
}

/** Runs a workload's rounds against one table, keeps the model in step
  * with every write, and checks every output against it. The warm-up runs
  * with `check = false`: the same calls into the engine, no model work.
  */
final class Runner(spark: SparkSession, w: Workload, gen: Gen, t: TableRef,
    workDir: String, trace: Option[Tracer], val stats: Stats, val checks: Checks,
    check: Boolean = true) {
  import Runner._

  private val conf = spark.sessionState.newHadoopConf()
  private val model = new Model(spark, gen)
  private var version = -1L
  private val figAt = mutable.Map.empty[Long, Fig]
  private val tsAt = mutable.Map.empty[Long, Long]
  val expects = mutable.ArrayBuffer.empty[Expect]
  val lagsMs = mutable.ArrayBuffer.empty[Double]
  val roundMs = mutable.ArrayBuffer.empty[Double]
  /** traced run: per write, (files added, files removed, commit bytes) */
  val commitStats = mutable.ArrayBuffer.empty[(Long, Long, Long)]
  /** traced run: main-bucket filesystem calls per kind of operation */
  val fsByKind = mutable.Map.empty[String, Array[Long]]
  private var roundNs = 0L
  private var appendSeq, sinkSeq, mergeSeq, dmlSeq, querySeq = 0L
  private var tail: Tail = _
  /** a write failed: the model no longer matches the table */
  var broken = false

  /** Bring the model and the tail up on the freshly built table. */
  def init(): Unit = {
    if (check) model.init((0 until w.commits).map(gen.baseCommit).reduce(_ union _))
    version = new TxnLog(t.path, conf).latestVersion().get
    figAt(version) = model.fig
    tsAt(version) = System.currentTimeMillis()
    tail = new Tail(spark, t.path, version, s"$workDir/tail_ck_${t.sqlName}",
      s"cdcbench_tail_${t.sqlName.replace('.', '_')}", trace)
    tail.start()
  }

  def close(): Unit = {
    tail.stop()
    model.release()
  }

  /** Release the model's cached frames (before heap is measured). */
  def releaseModel(): Unit = model.release()

  private def expect(ok: => Boolean, what: => String): Unit =
    if (check) checks.expect(ok, what)

  private def nextOpId(): Long = Runner.opSeq.incrementAndGet()

  /** Time one call into the engine. A call that throws is counted as
    * failed and leaves no time or rows behind.
    */
  private def op[T](kind: String)(body: => T): Option[T] = {
    val id = nextOpId()
    val sc = spark.sparkContext
    sc.setLocalProperty(Tracer.OpKey, id.toString)
    val fs0 = if (trace.isDefined) CountingFs.snapshot(CountingFs.MainBucket) else null
    val t0 = System.nanoTime()
    val r = try Some(body) catch {
      case NonFatal(e) =>
        System.err.println(s"[cdcbench] $kind failed: $e")
        e.printStackTrace()
        None
    }
    val t1 = System.nanoTime()
    sc.setLocalProperty(Tracer.OpKey, null)
    val s = stats(kind)
    s.attempted += 1
    if (r.isEmpty) s.failed += 1 else s.ms += (t1 - t0) / 1e6
    System.err.println(f"[op] ${t.sqlName} $kind ${(t1 - t0) / 1e6}%.1f")
    if (!kind.startsWith("log_")) roundNs += t1 - t0
    trace.foreach { tr =>
      tr.spans.add(Span(id, layerOf(kind), kind, clockMs(t0), clockMs(t1),
        Map("failed" -> (if (r.isEmpty) 1.0 else 0.0))))
      val d = CountingFs.snapshot(CountingFs.MainBucket).zip(fs0).map { case (a, b) => a - b }
      val acc = fsByKind.getOrElseUpdate(kind, Array.fill(d.length)(0L))
      d.indices.foreach(i => acc(i) += d(i))
    }
    r
  }

  /** One round: writes (each tailed), then reads, then a tail restart. */
  def round(): Unit = {
    roundNs = 0L
    val startV = version
    for (_ <- 0 until w.appends) { write("append"); write("sink_batch") }
    for (_ <- 0 until w.merges) write("merge")
    for (_ <- 0 until w.updates) Seq("update", "delete_dv", "delete_cow").foreach(write)
    if (!w.cdfEveryWrite) expects.lastOption.filter(_.version > startV).foreach(cdfRead)
    scans(startV)
    for (_ <- 0 until w.streamBackfills) backfillStream()
    for (_ <- 0 until w.batchBackfills) backfillBatch()
    for (_ <- 0 until w.restarts) op("tail_restart")(tail.restart())
    roundMs += roundNs / 1e6
  }

  private def write(kind: String): Unit = if (!broken) {
    // distinct commit timestamps, so timestamp-as-of resolves exactly
    while (System.currentTimeMillis() <= tsAt(version)) Thread.sleep(1)
    val v = version + 1
    val (ok, e) = kind match {
      case "append" | "sink_batch" =>
        val batch = gen.appendBatch(appendSeq)
        appendSeq += 1
        val f = if (check) model.append(batch) else Fig.Zero // before the engine sees it
        val ok = op(kind) {
          if (kind == "append") TableWriter.append(spark, batch, t.path, Seq("p"))
          else {
            val wrote = GraftTableSink.commitBatch(batch, t.path, sinkSeq, Seq("p"))
            sinkSeq += 1
            require(wrote, "sink batch was skipped as already committed")
          }
        }.isDefined
        (ok, Expect(v, kind, f, f.n, Map("insert" -> f), "c"))
      case "merge" =>
        val src = gen.mergeSource(mergeSeq)
        mergeSeq += 1
        val (pre, post, ins) =
          if (check) model.merge(src) else (Fig.Zero, Fig.Zero, Fig.Zero)
        src.createOrReplaceTempView("cdcbench_src")
        val ok = op(kind)(spark.sql(
          s"""MERGE INTO ${t.sqlName} t USING cdcbench_src s ON t.k = s.k
             |WHEN MATCHED THEN UPDATE SET t.a = s.a, t.b = s.b, t.c = s.c
             |WHEN NOT MATCHED THEN INSERT (k, p, a, b, c)
             |  VALUES (s.k, s.p, s.a, s.b, s.c)""".stripMargin)).isDefined
        (ok, Expect(v, kind, post + ins - pre, pre.n + ins.n,
          Map("update_preimage" -> pre, "update_postimage" -> post, "insert" -> ins), "any"))
      case "update" =>
        val pred = gen.dmlPredicate(dmlSeq)
        dmlSeq += 1
        val (pre, post) = if (check) model.update(pred) else (Fig.Zero, Fig.Zero)
        val ok = op(kind)(spark.sql(s"UPDATE ${t.sqlName} SET a = a + 1 WHERE $pred")).isDefined
        (ok, Expect(v, kind, post - pre, pre.n,
          Map("update_preimage" -> pre, "update_postimage" -> post), "any"))
      case "delete_dv" | "delete_cow" =>
        val pred = gen.dmlPredicate(dmlSeq)
        dmlSeq += 1
        val del = if (check) model.delete(pred) else Fig.Zero
        spark.conf.set("spark.graft.delete.mode", if (kind == "delete_dv") "dv" else "cow")
        val ok = op(kind)(spark.sql(s"DELETE FROM ${t.sqlName} WHERE $pred")).isDefined
        (ok, Expect(v, kind, Fig.Zero - del, del.n, Map("delete" -> del),
          if (kind == "delete_dv") "no-c" else "no-d"))
    }
    val endNs = System.nanoTime()
    if (!ok) { broken = true; return }
    val log = new TxnLog(t.path, conf)
    expect(log.latestVersionFrom(version).contains(v),
      s"$kind did not commit exactly version $v")
    version = v
    tsAt(v) = System.currentTimeMillis()
    figAt(v) = model.fig
    stats(kind).rows += e.changed
    expects += e
    trace.foreach(_ => traceCommit(v))
    op("tail_delivery")(tail.await(v, 120000L)
      .getOrElse(throw new IllegalStateException(
        s"tail did not deliver version $v: ${tail.failure.getOrElse("timed out")}")))
      .foreach(ns => lagsMs += (ns - endNs) / 1e6)
    // the mutate workload follows each DML with a CDF read and a snapshot read
    if (w.cdfEveryWrite && e.events != "c") cdfRead(e)
    if (w.scanAfterWrite && e.events != "c") scan("scan_dsv2", spark.table(t.sqlName), figAt(v).all)
  }

  /** Traced run only: standalone log calls and the commit's own size. */
  private def traceCommit(v: Long): Unit = {
    op("log_snapshot")(new TxnLog(t.path, conf).snapshotLatest())
    op("log_versions")(new TxnLog(t.path, conf).versions())
    val actions = new TxnLog(t.path, conf).read(v)
    val p = new Path(new Path(t.path, "_txn_log"), f"$v%020d.json")
    commitStats += ((actions.count(_.isInstanceOf[AddFile]).toLong,
      actions.count(_.isInstanceOf[RemoveFile]).toLong,
      p.getFileSystem(conf).getFileStatus(p).getLen))
  }

  private def freshCheckpoint(): String = {
    querySeq += 1
    s"$workDir/ck_${t.sqlName}_$querySeq"
  }

  /** A `graft-cdf` read of exactly version `e.version`. */
  private def cdfRead(e: Expect): Unit = {
    val got = new ConcurrentHashMap[(String, Long), (Long, Long)]()
    op("cdf_read") {
      // by class name: the short name "graft-cdf" is not registered in
      // META-INF/services, so Spark cannot resolve it
      spark.readStream.format(classOf[graft.sources.GraftCdf].getName)
        .option("tablePath", t.path)
        .option("startingVersion", e.version.toString)
        .load()
        .writeStream.trigger(Trigger.AvailableNow())
        .option("checkpointLocation", freshCheckpoint())
        .foreachBatch { (df: DataFrame, _: Long) =>
          df.select(col("_change_type"), col("_commit_version"), Fig.hash()).collect()
            .foreach { r =>
              got.merge((r.getString(0), r.getLong(1)), (1L, r.getLong(2)),
                (x, y) => (x._1 + y._1, x._2 + y._2))
            }
          ()
        }
        .start().awaitTermination()
    }.foreach { _ =>
      val g = got.asScala.toMap
      stats("cdf_read").rows += g.values.map(_._1).sum
      expect(g.keys.forall(_._2 == e.version),
        s"cdf read of v${e.version} returned versions ${g.keys.map(_._2).toSet}")
      val byType = g.toSeq.groupMapReduce(_._1._1)(_._2)((x, y) => (x._1 + y._1, x._2 + y._2))
      val want = e.cdf.filter(_._2.n > 0).map { case (k, f) => k -> f.all }
      expect(byType == want,
        s"cdf of ${e.kind} v${e.version}: got $byType, expected $want")
    }
  }

  /** Materialize a snapshot read into the noop sink; the count and
    * checksum are observed in the same pass.
    */
  private def scan(kind: String, df: => DataFrame, want: (Long, Long)): Unit =
    op(kind) {
      val ob = Observation()
      df.observe(ob, count(lit(1)).as("n"), sum(Fig.hash()).as("s"))
        .write.format("noop").mode("overwrite").save()
      val r = ob.get
      (Fig.long(r("n")), Fig.long(r("s")))
    }.foreach { got =>
      stats(kind).rows += got._1
      expect(got == want, s"$kind at v$version: got $got, expected $want")
    }

  private def scans(oldV: Long): Unit = {
    val fk = gen.filterKey
    val now = figAt(version)
    w.scans.foreach {
      case k @ "scan_dsv2" => scan(k, spark.table(t.sqlName), now.all)
      case k @ "scan_v1" => scan(k, SnapshotReader.read(spark, t.path), now.all)
      case k @ "scan_dsv2_version" => scan(k, spark.read.format("graft")
        .option("tablePath", t.path).option("versionAsOf", oldV.toString).load(),
        figAt(oldV).all)
      case k @ "scan_v1_timestamp" => scan(k,
        SnapshotReader.read(spark, t.path, timestampAsOf = Some(tsAt(oldV))), figAt(oldV).all)
      case k @ "scan_dsv2_filter" =>
        scan(k, spark.table(t.sqlName).where(col("k") < fk), now.filtered)
      case k @ "scan_v1_filter" =>
        scan(k, SnapshotReader.read(spark, t.path).where(col("k") < fk), now.filtered)
    }
  }

  private def checkBackfill(kind: String, r: Seq[Any]): Unit = {
    val (n, s) = (Fig.long(r(0)), Fig.long(r(1)))
    stats(kind).rows += n
    expect((n, s) == figAt(version).all,
      s"$kind at v$version: got ($n, $s), expected ${figAt(version).all}")
    expect(Fig.long(r(2)) == 0, s"$kind delivered ${r(2)} rows with op != 'c'")
    expect(Fig.long(r(3)) <= version,
      s"$kind delivered commit_version ${r(3)} > $version")
    expect(Fig.long(r(4)) == 0, s"$kind delivered ${r(4)} non-canonical partition_value")
  }

  /** Full backfill through a fresh `graft-cdc` query (AvailableNow). */
  private def backfillStream(): Unit = {
    val acc = mutable.ArrayBuffer.empty[Seq[Any]]
    op("backfill_stream") {
      spark.readStream.format("graft-cdc")
        .option("tablePath", t.path)
        .option("startingVersion", version.toString)
        .option("includeHistory", "true")
        .load()
        .writeStream.trigger(Trigger.AvailableNow())
        .option("checkpointLocation", freshCheckpoint())
        .foreachBatch { (df: DataFrame, _: Long) =>
          val r = df.agg(BackfillAgg.head, BackfillAgg.tail: _*).head()
          acc.synchronized(acc += r.toSeq)
          ()
        }
        .start().awaitTermination()
    }.foreach { _ =>
      val rs = acc.toSeq
      checkBackfill("backfill_stream", Seq(rs.map(r => Fig.long(r(0))).sum,
        rs.map(r => Fig.long(r(1))).sum, rs.map(r => Fig.long(r(2))).sum,
        rs.map(r => Fig.long(r(3))).maxOption.getOrElse(0L), rs.map(r => Fig.long(r(4))).sum))
    }
  }

  /** Full backfill through the batch reader. */
  private def backfillBatch(): Unit =
    op("backfill_batch") {
      val df = CdcReader.cdc(spark, t.path, version, includeHistory = true,
        endingVersion = Some(version))
      df.agg(BackfillAgg.head, BackfillAgg.tail: _*).head().toSeq
    }.foreach(checkBackfill("backfill_batch", _))

  /** Every write's version reached the tail in exactly one batch, with
    * the change events the model predicts; nothing else arrived.
    */
  def checkTail(): Unit = {
    val byVersion = mutable.Map.empty[Long, mutable.ArrayBuffer[Map[String, (Long, Long, Long)]]]
    tail.batches.asScala.values.foreach { b =>
      b.events.groupBy(_._1._1).foreach { case (v, evs) =>
        byVersion.getOrElseUpdate(v, mutable.ArrayBuffer.empty) +=
          evs.map { case ((_, op), x) => op -> x }
      }
    }
    val wanted = expects.map(_.version).toSet
    expect(byVersion.keySet.subsetOf(wanted),
      s"tail delivered unexpected versions ${byVersion.keySet -- wanted}")
    expects.foreach { e =>
      val got = byVersion.getOrElse(e.version, mutable.ArrayBuffer.empty)
      expect(got.size == 1,
        s"tail delivered v${e.version} (${e.kind}) in ${got.size} batches, expected exactly 1")
      got.headOption.foreach { evs =>
        def of(op: String) = evs.getOrElse(op, (0L, 0L, 0L))
        val netN = of("c")._1 - of("r")._1 - of("d")._1
        val netS = of("c")._2 - of("r")._2 - of("d")._2
        expect((netN, netS) == e.delta.all,
          s"tail v${e.version} (${e.kind}): net change ($netN, $netS), expected ${e.delta.all}")
        expect(evs.values.map(_._3).sum == 0,
          s"tail v${e.version}: non-canonical partition_value")
        val ops = evs.keySet
        val opsOk = e.events match {
          case "c" => ops == Set("c")
          case "no-c" => !ops.contains("c")
          case "no-d" => !ops.contains("d")
          case _ => true
        }
        expect(opsOk, s"tail v${e.version} (${e.kind}): ops $ops break rule ${e.events}")
      }
    }
  }
}

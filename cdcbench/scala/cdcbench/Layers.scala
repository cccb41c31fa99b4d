package cdcbench

import scala.jdk.CollectionConverters._

import graft.txn.TxnLog
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** The traced run's per-layer numbers, from the spans and counts the
  * [[Tracer]], [[CountingFs]] and [[Runner]] recorded.
  *
  * Self time: an operation's span minus the part of it covered by its
  * Spark jobs (layer `exec`) and planning phases (layer `plan`); what is
  * left belongs to the operation's own layer. For a write that remainder
  * is `commit.driver_ms`: driver-side work such as log replay and the
  * log append.
  */
object Layers {
  /** Written to the span file, left out of the result line, whose
    * per-layer metrics every workload measures at a useful resolution:
    * the DML kinds run on mutate alone and the streaming backfill on
    * backfill alone; planning phases per layer, `latestOffset` and task
    * GC time are whole milliseconds from Spark and mostly 0 per operation;
    * these workloads never spill.
    */
  val TraceOnly: Set[String] = Set("commit.merge_ms", "commit.update_ms",
    "commit.delete_dv_ms", "commit.delete_cow_ms", "cdc.stream_backfill_rows_per_s",
    "cdc.latest_offset_ms", "exec.gc_ms", "exec.spill_bytes") ++
    (for (l <- Seq("commit", "scan", "cdc", "cdf");
          ph <- Seq("analysis", "optimization", "physical")) yield s"plan.${ph}_ms.$l")
}

final class Layers(spark: SparkSession, tr: Tracer, r: Runner, stats: Stats, t: TableRef,
    tailFs: Array[Long]) {
  import Runner._

  tr.drain()
  private val ops: Seq[Span] = tr.spans.asScala.filter(_.layer != "exec").toSeq
    .filter(_.attrs.get("failed").contains(0.0)).sortBy(_.startMs)
  private val mainOps = ops.filterNot(_.layer == "log")
  private def isTailOp(s: Span) = s.name == "tail_delivery" || s.name == "tail_restart"
  private val jobs = tr.jobSpans
  private val jobsByOp = jobs.groupBy(_.op)

  /** planning phases attributed to operations by time (operations never
    * overlap; the tail's planning only counts inside its own waits)
    */
  private val plansByOp: Map[Long, Seq[(String, Double, Double)]] =
    tr.planPhases.asScala.toSeq.flatMap { case (tail, phase, s, e) =>
      mainOps.find(o => o.startMs <= s && s <= o.endMs && isTailOp(o) == tail)
        .map(o => o.op -> (phase, s, e))
    }.groupMap(_._1)(_._2)

  private def jobsOf(o: Span): Seq[Span] =
    if (isTailOp(o)) jobsByOp.getOrElse(Tracer.TailOp, Nil)
      .filter(j => j.startMs < o.endMs && j.endMs > o.startMs)
    else jobsByOp.getOrElse(o.op, Nil)

  /** (exec ms, plan ms, own-layer ms) of one operation */
  private def split(o: Span): (Double, Double, Double) = {
    val j = jobsOf(o).map(s => (s.startMs, s.endMs))
    val p = plansByOp.getOrElse(o.op, Nil).map(x => (x._2, x._3))
    val uj = Tracer.unionMs(j, o.startMs, o.endMs)
    val ujp = Tracer.unionMs(j ++ p, o.startMs, o.endMs)
    (uj, ujp - uj, o.durMs - ujp)
  }
  private val splits: Map[Long, (Double, Double, Double)] =
    mainOps.map(o => o.op -> split(o)).toMap

  /** Self time per layer, with shares of the whole, over the timed phase;
    * also whole operations grouped by the layer they call into, and per
    * kind of operation.
    */
  val selfTime: Map[String, Any] = {
    val acc = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    mainOps.foreach { o =>
      val (e, p, own) = splits(o.op)
      acc(o.layer) = acc.getOrElse(o.layer, 0.0) + own
      acc("exec") = acc.getOrElse("exec", 0.0) + e
      acc("plan") = acc.getOrElse("plan", 0.0) + p
    }
    val total = acc.values.sum
    val byKind = mainOps.groupBy(_.name).map { case (k, os) =>
      k -> Map("ops" -> os.size, "total_ms" -> os.map(_.durMs).sum,
        "exec_ms" -> os.map(o => splits(o.op)._1).sum,
        "plan_ms" -> os.map(o => splits(o.op)._2).sum,
        "self_ms" -> os.map(o => splits(o.op)._3).sum)
    }
    val byOpLayer = mainOps.groupBy(_.layer).map { case (l, os) =>
      l -> Map("ms" -> os.map(_.durMs).sum,
        "share" -> (if (total > 0) os.map(_.durMs).sum / total else 0.0))
    }
    Map("layers" -> acc.map { case (k, v) =>
      k -> Map("ms" -> v, "share" -> (if (total > 0) v / total else 0.0)) }.toMap,
      "operations_by_layer" -> byOpLayer, "kinds" -> byKind)
  }

  private def meanOf(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else xs.sum / xs.size
  private def opsOf(kinds: Seq[String]) = mainOps.filter(o => kinds.contains(o.name))
  private def taskSum(os: Seq[Span])(f: TaskAgg => Long): Double =
    os.map(o => f(tr.taskAggOf(o.op))).sum.toDouble

  private val tailProgress = tr.progress.asScala.toSeq
    .filter(p => p.id.toString == CountingFs.tailId && p.numInputRows > 0)
  private def trigger(phase: String): Double =
    meanOf(tailProgress.map(p => Option(p.durationMs.get(phase)).map(_.toDouble).getOrElse(0.0)))

  /** Latency tails with their sample counts (not end-to-end metrics). */
  val tails: Map[String, Any] = (Seq("tail_lag" -> r.lagsMs.toSeq) ++
    (Writes ++ Scans ++ Backfills ++ Seq("cdf_read")).map(k => k -> stats(k).ms.toSeq))
    .map { case (k, v) =>
      k -> Map("samples" -> v.size, "p50_ms" -> Main.median(v), "p90_ms" -> Main.pct(v, 0.9))
    }.toMap

  def spanRecords: Seq[Map[String, Any]] =
    (tr.spans.asScala.toSeq.map(s => Map("op" -> s.op, "layer" -> s.layer, "name" -> s.name,
      "start_ms" -> s.startMs, "end_ms" -> s.endMs)) ++
      plansByOp.toSeq.flatMap { case (op, ps) => ps.map { case (ph, s, e) =>
        Map("op" -> op, "layer" -> "plan", "name" -> ph, "start_ms" -> s, "end_ms" -> e) } })
      .sortBy(m => m("start_ms").asInstanceOf[Double])

  def metrics(): Seq[(String, Double, String)] = {
    val conf = spark.sessionState.newHadoopConf()
    val log = new TxnLog(t.path, conf)
    val logDir = new Path(t.path, "_txn_log")
    val cpBytes = logDir.getFileSystem(conf).listStatus(logDir)
      .filter(_.getPath.getName.contains(".checkpoint")).map(_.getLen).sum
    val writes = opsOf(Writes)
    val scans = opsOf(Scans)
    val nWrites = math.max(1, Writes.map(stats(_).attempted).sum).toDouble
    def fsOf(kinds: Seq[String], kind: Int) =
      kinds.flatMap(r.fsByKind.get).map(_(kind)).sum.toDouble
    val nBackfills = math.max(1, Backfills.map(stats(_).attempted).sum).toDouble
    val allKinds = r.fsByKind.keys.filterNot(_.startsWith("log_")).toSeq
    val nOps = math.max(1, allKinds.map(stats(_).attempted).sum).toDouble
    val execOps = mainOps.filterNot(isTailOp)
    val nExec = math.max(1, execOps.size).toDouble
    val scanRows = Scans.map(stats(_).rows).sum.toDouble
    val cs = r.commitStats.toSeq
    val phases = Seq("analysis" -> "analysis", "optimization" -> "optimization",
      "planning" -> "physical")
    // mean planning ms per operation, over the operations of `layers`
    def planOf(layers: Seq[String], phase: Set[String]): Double =
      meanOf(mainOps.filter(o => layers.contains(o.layer)).map(o =>
        plansByOp.getOrElse(o.op, Nil).filter(x => phase(x._1)).map(x => x._3 - x._2).sum))
    val opLayers = Seq("commit", "scan", "cdc", "cdf")
    val planMetrics =
      (for (layer <- opLayers; (phase, name) <- phases)
        yield (s"plan.${name}_ms.$layer", planOf(Seq(layer), Set(phase)), "ms")) ++
      phases.map { case (phase, name) => (s"plan.${name}_ms", planOf(opLayers, Set(phase)), "ms") } ++
      opLayers.map(l => (s"plan.ms.$l", planOf(Seq(l), phases.map(_._1).toSet), "ms"))
    val tailRows = tailProgress.map(_.numInputRows.toDouble)

    Seq(
      ("log.snapshot_ms", stats.meanMs(Seq("log_snapshot")), "ms"),
      ("log.versions_ms", stats.meanMs(Seq("log_versions")), "ms"),
      ("log.live_files", log.snapshotLatest().files.size.toDouble, "count"),
      ("log.commits", log.versions().size.toDouble, "count"),
      ("log.checkpoint_bytes", cpBytes.toDouble, "B"),
      ("commit.append_ms", stats.meanMs(Seq("append")), "ms"),
      ("commit.sink_batch_ms", stats.meanMs(Seq("sink_batch")), "ms"),
      ("commit.merge_ms", stats.meanMs(Seq("merge")), "ms"),
      ("commit.update_ms", stats.meanMs(Seq("update")), "ms"),
      ("commit.delete_dv_ms", stats.meanMs(Seq("delete_dv")), "ms"),
      ("commit.delete_cow_ms", stats.meanMs(Seq("delete_cow")), "ms"),
      ("commit.driver_ms", meanOf(writes.map(o => splits(o.op)._3)), "ms"),
      ("commit.files_added_per_op", meanOf(cs.map(_._1.toDouble)), "count"),
      ("commit.files_removed_per_op", meanOf(cs.map(_._2.toDouble)), "count"),
      ("commit.log_bytes_per_commit", meanOf(cs.map(_._3.toDouble)), "B"),
      ("scan.dsv2_rows_per_s", stats.rate(DsV2Scans), "rows/s"),
      ("scan.v1_rows_per_s", stats.rate(V1Scans), "rows/s"),
      ("scan.time_travel_ms", stats.meanMs(TimeTravel), "ms"),
      ("scan.tasks_per_read", taskSum(scans)(_.tasks) / math.max(1, scans.size), "count"),
      ("scan.input_bytes_per_row",
        if (scanRows > 0) taskSum(scans)(_.inputBytes) / scanRows else 0.0, "B"),
      ("cdc.stream_backfill_rows_per_s", stats.rate(Seq("backfill_stream")), "rows/s"),
      ("cdc.batch_backfill_rows_per_s", stats.rate(Seq("backfill_batch")), "rows/s"),
      ("cdc.latest_offset_ms", trigger("latestOffset"), "ms"),
      ("cdc.query_planning_ms", trigger("queryPlanning"), "ms"),
      ("cdc.add_batch_ms", trigger("addBatch"), "ms"),
      ("cdc.wal_commit_ms", trigger("walCommit"), "ms"),
      ("cdc.trigger_ms", trigger("triggerExecution"), "ms"),
      ("cdc.triggers", tailProgress.size.toDouble, "count"),
      ("cdc.rows_per_trigger", meanOf(tailRows), "count"),
      ("cdc.restart_ms", stats.meanMs(Seq("tail_restart")), "ms"),
      ("cdc.tail_lag_p90_ms", Main.pct(r.lagsMs.toSeq, 0.9), "ms"),
      ("cdf.read_ms", stats.meanMs(Seq("cdf_read")), "ms"),
      ("cdf.rows_per_s", stats.rate(Seq("cdf_read")), "rows/s")) ++
      planMetrics ++ Seq(
      ("exec.jobs_per_op", execOps.map(o => jobsByOp.getOrElse(o.op, Nil).size).sum / nExec, "count"),
      ("exec.tasks_per_op", taskSum(execOps)(_.tasks) / nExec, "count"),
      ("exec.executor_run_ms", taskSum(execOps)(_.runMs) / nExec, "ms"),
      ("exec.executor_cpu_ms", taskSum(execOps)(_.cpuNs) / 1e6 / nExec, "ms"),
      ("exec.shuffle_bytes", taskSum(execOps)(_.shuffleBytes) / nExec, "B"),
      ("exec.spill_bytes", taskSum(execOps)(_.spillBytes) / nExec, "B"),
      ("exec.gc_ms", taskSum(execOps)(_.gcMs) / nExec, "ms"),
      ("fs.list_per_commit", fsOf(Writes, CountingFs.List) / nWrites, "count"),
      ("fs.exists_per_trigger",
        tailFs(CountingFs.Stat).toDouble / math.max(1, tailProgress.size), "count"),
      ("fs.open_per_commit", fsOf(Writes, CountingFs.Open) / nWrites, "count"),
      ("fs.open_per_backfill", fsOf(Backfills, CountingFs.Open) / nBackfills, "count"),
      ("fs.create_per_commit", fsOf(Writes, CountingFs.Create) / nWrites, "count"),
      ("fs.bytes_read_per_op", fsOf(allKinds, CountingFs.BytesRead) / nOps, "B"),
      ("trace.run_s", r.roundMs.sum / 1000.0, "s"))
  }
}

package cdcbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import graft.txn.{ChangeDataFeed, TableWriter, TxnLog}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** One benchmark run: set up a workload's table three times, warm every
  * kind of operation on one copy, then repeat whole rounds of the workload
  * on another until `--seconds` have passed, check every output, and
  * print the metrics as the last line of standard output.
  *
  * {{{
  * cdcbench.Main --workload backfill|ingest|mutate --seed N --seconds S
  *   --trace 0|1 --work DIR [--trace-out FILE]
  * }}}
  */
object Main {
  /** Spark runs `local[Cores]`: one writer and one tail share the cores. */
  val Cores = 2

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
      work: String, traceOut: String)

  def main(argv: Array[String]): Unit = {
    val m = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"--$k is required"))
    val a = Args(need("workload"), need("seed").toLong, need("seconds").toInt,
      need("trace") == "1", Paths.get(need("work")).toAbsolutePath.toString,
      m.getOrElse("trace-out", ""))
    val code = try run(a, Workload.named(a.workload)) catch {
      case NonFatal(e) =>
        e.printStackTrace()
        2
    }
    System.exit(code)
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Nearest-rank percentile. */
  def pct(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0 else s(math.min(s.size - 1, math.ceil(p * s.size).toInt - 1).max(0))
  }

  /** Fixed single-threaded work; its time shows a loaded or slow machine. */
  private def calibrateMs(): Double = {
    val t0 = System.nanoTime()
    var x = 0L
    var i = 0
    while (i < 100000000) { x = x * 6364136223846793005L + i; x ^= x >>> 29; i += 1 }
    if (x == 42L) System.err.println("")
    (System.nanoTime() - t0) / 1e6
  }

  private def session(a: Args, warehouse: String): SparkSession = {
    val b = SparkSession.builder().master(s"local[$Cores]").appName("cdcbench")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.default.parallelism", Cores.toString)
      .config("spark.local.dir", s"${a.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a.work}/spark-warehouse")
      .config("spark.sql.catalog.bench", "graft.sources.GraftCatalog")
      .config("spark.sql.catalog.bench.warehouse", warehouse)
      // bounded status history, so retained heap does not grow with rounds
      .config("spark.sql.ui.retainedExecutions", "20")
      .config("spark.ui.retainedJobs", "20")
      .config("spark.ui.retainedStages", "20")
      .config("spark.sql.streaming.numRecentProgressUpdates", "5")
      .config("spark.sql.streaming.ui.retainedQueries", "5")
    if (a.trace) b.config(s"spark.hadoop.fs.${CountingFs.Scheme}.impl", classOf[CountingFs].getName)
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Generate the starting table from the seed through the engine's own
    * write path: a few wide commits, then the change feed switched on.
    */
  private def build(spark: SparkSession, gen: Gen, t: TableRef): Double = {
    val w = gen.w
    val t0 = System.nanoTime()
    (0 until w.commits).foreach { i =>
      TableWriter.write(spark, gen.baseCommit(i), t.path, Seq("p"), version = i.toLong,
        commitTs = System.currentTimeMillis())
    }
    TableWriter.setTableProperties(spark, t.path, Map(ChangeDataFeed.Prop -> "true"),
      version = w.commits.toLong)
    (System.nanoTime() - t0) / 1e9
  }

  /** Heap in use after full GCs. Spark's cleaner drops unreachable
    * broadcast and shuffle state only after a GC has found it, on its own
    * thread, so collect until the figure stops falling.
    */
  private def retainedHeapMb(): Double = {
    val mx = java.lang.management.ManagementFactory.getMemoryMXBean
    def used() = { System.gc(); mx.getHeapMemoryUsage.getUsed / 1048576.0 }
    var prev = used()
    var cur = prev
    var i = 0
    do {
      Thread.sleep(150)
      prev = cur
      cur = used()
      i += 1
    } while (i < 8 && prev - cur > 1.0)
    cur
  }

  private def localDirBytes(dir: String): Long = {
    val p = Paths.get(new Path(dir).toUri.getPath)
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }
  }

  def run(a: Args, w: Workload): Int = {
    val t00 = System.nanoTime()
    def el = f"${(System.nanoTime() - t00) / 1e9}%.1fs"
    val calibMs = calibrateMs()
    val loadavg = new String(Files.readAllBytes(Paths.get("/proc/loadavg"))).trim
    val root = if (a.trace) s"${CountingFs.Scheme}://${a.work}/wh" else s"${a.work}/wh"
    val spark = session(a, root)
    val tracer = if (a.trace) Some(new Tracer(spark)) else None
    val gen = new Gen(spark, w, a.seed)
    def table(n: String) = TableRef(s"bench.db.$n", s"$root/db/$n")

    // warm-up on a small throwaway table: every kind of operation once
    val ww = Workload.warmup(w)
    val wgen = new Gen(spark, ww, a.seed)
    build(spark, wgen, table("warm"))
    val warmStats = new Stats
    val warm = new Runner(spark, ww, wgen, table("warm"), a.work, None, warmStats, new Checks,
      check = false)
    warm.init()
    warm.round()
    warm.close()
    if (warmStats.failed > 0) {
      System.err.println(s"[cdcbench] warm-up failed: ${warmStats.failed} operations")
      return 1
    }

    System.err.println(s"[cdcbench] $el warm-up done")
    // set-up, three times; the last copy takes the timed phase
    val spares = (1 to 2).map(i => s"spare$i")
    val setups = (spares :+ "timed").map(n => build(spark, gen, table(n)))
    val conf = spark.sessionState.newHadoopConf()
    ("warm" +: spares).map(n => new Path(table(n).path))
      .foreach(p => p.getFileSystem(conf).delete(p, true))
    System.err.println(s"[cdcbench] $el set-up done: ${setups.mkString(", ")}")
    val stats = new Stats
    val checks = new Checks
    val t = table("timed")
    val r = new Runner(spark, w, gen, t, a.work, tracer, stats, checks)
    r.init()
    val tailFs0 = CountingFs.snapshot(CountingFs.TailBucket)
    val bytes0 = localDirBytes(t.path)
    val rounds = Workload.rounds(w, a.seconds)
    (0 until rounds).foreach(_ => if (!r.broken) r.round())
    System.err.println(s"[cdcbench] $el timed phase done: $rounds rounds")
    val bytes1 = localDirBytes(t.path)
    r.checkTail()
    r.releaseModel()
    val heapMb = retainedHeapMb()
    r.close()

    val changed = Runner.Writes.map(stats(_).rows).sum
    val e2e = Seq(
      ("setup_s", median(setups), "s"),
      ("run_s", r.roundMs.sum / 1000.0, "s"),
      ("backfill_rows_per_s", stats.rate(Runner.Backfills), "rows/s"),
      ("scan_rows_per_s", stats.rate(Runner.Scans), "rows/s"),
      ("commit_rows_per_s", stats.rate(Runner.Writes), "rows/s"),
      ("tail_lag_p50_ms", median(r.lagsMs.toSeq), "ms"),
      ("write_bytes_per_changed_row",
        if (changed > 0) (bytes1 - bytes0).toDouble / changed else 0.0, "B"),
      ("heap_retained_mb", heapMb, "MB"))

    val metrics = tracer match {
      case None => e2e
      case Some(tr) =>
        val layers = new Layers(spark, tr, r, stats, t, CountingFs.snapshot(CountingFs.TailBucket)
          .zip(tailFs0).map { case (x, y) => x - y })
        val per = layers.metrics()
        if (a.traceOut.nonEmpty) {
          Files.createDirectories(Paths.get(a.traceOut).toAbsolutePath.getParent)
          Files.write(Paths.get(a.traceOut), Json(Map(
            "workload" -> w.name, "seed" -> a.seed, "rounds" -> rounds,
            "end_to_end_traced" -> e2e.map(m => m._1 -> m._2).toMap,
            "per_layer" -> per.map(m => m._1 -> m._2).toMap,
            "self_time" -> layers.selfTime, "tails" -> layers.tails,
            "spans" -> layers.spanRecords)).getBytes("UTF-8"))
        }
        System.err.println(s"[cdcbench] self time by layer (ms): ${Json(layers.selfTime)}")
        System.err.println(s"[cdcbench] tails: ${Json(layers.tails)}")
        per.filterNot(m => Layers.TraceOnly(m._1))
    }

    System.err.println(s"[cdcbench] $el metrics done")
    val failed = stats.failed
    val correct = checks.failures.isEmpty && !r.broken
    println(Json(Map(
      "workload" -> w.name, "seed" -> a.seed, "trace" -> a.trace, "rounds" -> rounds,
      "loadavg" -> loadavg, "calibration_ms" -> calibMs,
      "setup_s_each" -> setups, "round_ms" -> r.roundMs.toSeq, "tail_lag_samples" -> r.lagsMs.size,
      "checks_failed" -> checks.failures.size,
      "ops" -> stats.kinds.filter(_._2.attempted > 0).map { case (k, s) =>
        k -> Map("attempted" -> s.attempted, "failed" -> s.failed,
          "mean_ms" -> (if (s.ms.isEmpty) 0.0 else s.ms.sum / s.ms.size))
      }.toMap)))
    println(Json(Map(
      "correct" -> correct, "attempted" -> stats.attempted, "failed" -> failed,
      "metrics" -> metrics.map { case (n, v, u) => n -> Map("value" -> v, "unit" -> u) }.toMap)))
    System.out.flush()
    spark.stop()
    if (correct && failed == 0) 0 else 1
  }
}

/** Minimal JSON rendering for the result lines and the span file. */
object Json {
  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case p: Product => p.productIterator.map(apply).mkString("[", ",", "]")
    case other => quote(other.toString)
  }
}

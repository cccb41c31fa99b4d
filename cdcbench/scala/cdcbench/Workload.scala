package cdcbench

/** The shape of one workload: its starting table and one round of its
  * timed phase. A run repeats whole rounds: round(seconds / roundSeconds)
  * of them, at least one, so the timed phase lasts about `--seconds` on
  * the reference box (4 cores, local[2]) and does the same work on every
  * run, however fast the machine happens to be.
  */
final case class Workload(
    name: String,
    // ---- starting table ----
    rows: Long,               // live rows
    partitions: Int,          // values of p (a power of two)
    rangePartitioned: Boolean, // p by key range (a few large, key-sorted files) or k mod P
    commits: Int,             // wide commits that build it
    tasksPerCommit: Int,      // write tasks per commit (files = tasks x partitions touched)
    // ---- one round ----
    appends: Int,             // TableWriter.append calls, and as many sink batches
    appendRows: Int,
    merges: Int,
    mergeKeys: Int,           // source rows per MERGE before duplicates collapse
    updates: Int,             // UPDATEs, and as many DV and COW DELETEs each
    dmlKeys: Int,             // keys per UPDATE/DELETE range
    cdfEveryWrite: Boolean,   // graft-cdf read after every write, else after the last
    scanAfterWrite: Boolean,  // DV-masked snapshot read after every write
    streamBackfills: Int,
    batchBackfills: Int,
    scans: Seq[String],       // snapshot reads per round (kinds of Runner.Scans)
    restarts: Int,            // tail stop + resume from checkpoint
    roundSeconds: Double)     // nominal length of one round on the reference box

object Workload {
  val All: Seq[Workload] = Seq(
    // A few large key-sorted files and a short log, read over and over.
    Workload("backfill", rows = 300000L, partitions = 4, rangePartitioned = true,
      commits = 1, tasksPerCommit = 8,
      appends = 4, appendRows = 500, merges = 0, mergeKeys = 0, updates = 0, dmlKeys = 0,
      cdfEveryWrite = false, scanAfterWrite = false,
      streamBackfills = 2, batchBackfills = 2, scans = Runner.Scans, restarts = 1,
      roundSeconds = 14.0),
    // Many small live files; a run of small tailed appends. Runnable, but
    // not in BENCHMARK.json: within the benchmark's run budget its reads
    // over the small files get one or two samples a run and do not come
    // steady.
    Workload("ingest", rows = 32000L, partitions = 16, rangePartitioned = false,
      commits = 2, tasksPerCommit = 2,
      appends = 9, appendRows = 128, merges = 0, mergeKeys = 0, updates = 0, dmlKeys = 0,
      cdfEveryWrite = false, scanAfterWrite = false,
      streamBackfills = 0, batchBackfills = 1,
      scans = Seq("scan_dsv2", "scan_v1_timestamp"), restarts = 2,
      roundSeconds = 14.0),
    // A keyed table under MERGE/UPDATE/DELETE with the change feed on.
    Workload("mutate", rows = 50000L, partitions = 4, rangePartitioned = false,
      commits = 1, tasksPerCommit = 1,
      appends = 1, appendRows = 128, merges = 1, mergeKeys = 1000, updates = 1, dmlKeys = 250,
      cdfEveryWrite = true, scanAfterWrite = true,
      streamBackfills = 0, batchBackfills = 2,
      scans = Seq("scan_v1_timestamp", "scan_dsv2_version"), restarts = 1,
      roundSeconds = 15.0))

  def named(n: String): Workload = All.find(_.name == n).getOrElse(
    throw new IllegalArgumentException(
      s"unknown workload '$n' (have ${All.map(_.name).mkString(", ")})"))

  /** Whole rounds in a run of `seconds`: a function of the arguments only. */
  def rounds(w: Workload, seconds: Int): Int =
    math.max(1, math.round(seconds / w.roundSeconds).toInt)

  /** The untimed warm-up: a small copy of the table (one commit, an
    * eighth of the rows) and a round that runs each kind once.
    */
  def warmup(w: Workload): Workload = w.copy(rows = w.rows / 8, commits = 1,
    appends = 1, merges = math.min(w.merges, 1), updates = math.min(w.updates, 1),
    cdfEveryWrite = false, scanAfterWrite = false,
    scans = if (w.scanAfterWrite) w.scans :+ "scan_dsv2" else w.scans,
    streamBackfills = math.min(w.streamBackfills, 1), batchBackfills = 1, restarts = 1)
}

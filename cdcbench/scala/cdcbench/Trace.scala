package cdcbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval. `op` is the id of the benchmark operation it
  * belongs to; every span of one operation shares it.
  */
final case class Span(op: Long, layer: String, name: String,
    startMs: Double, endMs: Double, attrs: Map[String, Double] = Map.empty) {
  def durMs: Double = endMs - startMs
}

/** Per-operation sums of the task metrics Spark reports. */
final class TaskAgg {
  var tasks = 0L
  var runMs = 0L
  var cpuNs = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
  var gcMs = 0L
  var inputBytes = 0L
  def add(m: org.apache.spark.executor.TaskMetrics): Unit = synchronized {
    tasks += 1
    runMs += m.executorRunTime
    cpuNs += m.executorCpuTime
    shuffleBytes += m.shuffleReadMetrics.totalBytesRead +
      m.shuffleWriteMetrics.bytesWritten
    spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
    gcMs += m.jvmGCTime
    inputBytes += m.inputMetrics.bytesRead
  }
}

/** The traced run's recorder. It sits entirely outside the engine: a
  * SparkListener for jobs and tasks, a QueryExecutionListener for the
  * planning phases of `QueryPlanningTracker`, and a StreamingQueryListener
  * for trigger phases. Everything stays in memory until the run ends.
  *
  * Jobs carry the id of the operation that started them as the local
  * property [[Tracer.OpKey]] (streaming threads inherit it from the thread
  * that started the query). Planning phases carry no such property, so
  * they are attributed later by time: the benchmark's operations never
  * overlap, and the tail's planning is told apart by its session.
  */
final class Tracer(spark: SparkSession) {
  import Tracer._

  val spans = new ConcurrentLinkedQueue[Span]()
  val taskAgg = new ConcurrentHashMap[Long, TaskAgg]()
  /** (from the tail?, phase, start ms, end ms) */
  val planPhases = new ConcurrentLinkedQueue[(Boolean, String, Double, Double)]()
  val progress = new ConcurrentLinkedQueue[StreamingQueryProgress]()
  /** Sessions of the tail's micro-batches (Spark clones one per query). */
  val tailSessions: java.util.Set[AnyRef] =
    java.util.Collections.newSetFromMap(new ConcurrentHashMap[AnyRef, java.lang.Boolean]())

  private val jobs = new ConcurrentHashMap[Int, (Long, Long)]()
  private val stageOp = new ConcurrentHashMap[Int, Long]()

  spark.sparkContext.addSparkListener(new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val op = Option(e.properties).flatMap(p => Option(p.getProperty(OpKey)))
        .map(_.toLong).getOrElse(NoOp)
      jobs.put(e.jobId, (op, e.time))
      e.stageIds.foreach(s => stageOp.put(s, op))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.remove(e.jobId)).foreach { case (op, start) =>
        spans.add(Span(op, "exec", "job", start.toDouble, e.time.toDouble))
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      if (e.taskMetrics != null) {
        val op = stageOp.getOrDefault(e.stageId, NoOp)
        taskAgg.computeIfAbsent(op, _ => new TaskAgg).add(e.taskMetrics)
      }
  })

  spark.listenerManager.register(new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = record(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = record(qe)
    private def record(qe: QueryExecution): Unit = {
      val tail = tailSessions.contains(qe.sparkSession)
      qe.tracker.phases.foreach { case (phase, s) =>
        planPhases.add((tail, phase, s.startTimeMs.toDouble, s.endTimeMs.toDouble))
      }
    }
  })

  spark.streams.addListener(new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      progress.add(e.progress)
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  })

  def drain(): Unit = org.apache.spark.cdcbench.Bus.drain(spark.sparkContext)

  def taskAggOf(op: Long): TaskAgg = Option(taskAgg.get(op)).getOrElse(new TaskAgg)

  def jobSpans: Seq[Span] = spans.asScala.filter(_.layer == "exec").toSeq
}

object Tracer {
  val OpKey = "cdcbench.op"
  val NoOp: Long = -1L
  val TailOp: Long = -2L

  /** Total length of the union of intervals, clipped to [lo, hi]. */
  def unionMs(iv: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    val clipped = iv.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }
      .filter { case (s, e) => e > s }.sortBy(_._1)
    var total = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    clipped.foreach { case (s, e) =>
      if (curS.isNaN || s > curE) {
        if (!curS.isNaN) total += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (!curS.isNaN) total += curE - curS
    total
  }
}

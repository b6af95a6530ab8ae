package bench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One timed call into the program: name, wall interval (nanoTime for
  * the duration, epoch millis to line it up with listener events),
  * parent span, pass number, and the Hadoop local-FS bytes read while it
  * ran. */
final case class Span(id: Int, name: String, parent: Int, pass: Int,
                      startMs: Long, endMs: Long, seconds: Double,
                      fsReadBytes: Long)

/** Span recorder. Spans live in memory and are written out once, when
  * the run ends. A disabled recorder runs each body directly and keeps
  * nothing, so the untraced passes pay no recording cost. Single driver
  * thread: spans nest strictly. */
final class Trace(val enabled: Boolean) {
  val spans = mutable.ArrayBuffer[Span]()
  /** Per-pass counts the workload reports at a call boundary. */
  val counts = mutable.Map[(Int, String), Double]()
  var pass = 0
  private var stack = List.empty[Int]
  private var nextId = 0

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val (ms, ns, fs) = (System.currentTimeMillis(), System.nanoTime(), Trace.fsBytesRead())
      try body
      finally {
        stack = stack.tail
        spans += Span(id, name, parent, pass, ms, System.currentTimeMillis(),
          (System.nanoTime() - ns) / 1e9, Trace.fsBytesRead() - fs)
      }
    }

  def count(name: String, value: Double): Unit =
    if (enabled) counts((pass, name)) = value

  /** Self time: the span's duration minus what its children cover. */
  def selfSeconds(s: Span): Double =
    s.seconds - spans.filter(_.parent == s.id).map(_.seconds).sum
}

object Trace {
  /** Bytes read through Hadoop's local filesystem, all threads. Local
    * executors share the driver JVM, so this counts every file scan;
    * cache, shuffle and checkpoint blocks go through Spark's block
    * manager and never show here. */
  def fsBytesRead(): Long =
    org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala
      .filter(_.getScheme == "file").map(_.getBytesRead).sum
}

final case class TaskRec(finishMs: Long, runMs: Long, cpuNs: Long, gcMs: Long,
                         shuffleRead: Long, shuffleWrite: Long, spill: Long,
                         input: Long, output: Long)

/** Spark counters, registered only for traced passes and attributed to
  * spans by time afterwards (a task belongs to the spans open when it
  * finished; a job to the spans open when it started). */
final class SparkCounters extends SparkListener {
  val tasks = new ConcurrentLinkedQueue[TaskRec]()
  val jobs = new ConcurrentLinkedQueue[(Long, Long)]()
  private val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, Long]()

  override def onJobStart(e: SparkListenerJobStart): Unit = jobStart.put(e.jobId, e.time)
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobStart.remove(e.jobId)).foreach(s => jobs.add((s, e.time)))
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) tasks.add(TaskRec(e.taskInfo.finishTime, m.executorRunTime,
      m.executorCpuTime, m.jvmGCTime, m.shuffleReadMetrics.totalBytesRead,
      m.shuffleWriteMetrics.bytesWritten, m.diskBytesSpilled,
      m.inputMetrics.bytesRead, m.outputMetrics.bytesWritten))
  }

  /** Inclusive counters of the interval [startMs, endMs]. */
  def within(startMs: Long, endMs: Long): Map[String, Double] = {
    val ts = tasks.asScala.filter(t => t.finishMs >= startMs && t.finishMs <= endMs)
    val js = jobs.asScala.filter { case (s, _) => s >= startMs && s <= endMs }.toSeq
    Map(
      "jobs" -> js.size.toDouble,
      "tasks" -> ts.size.toDouble,
      "executor_run_s" -> ts.map(_.runMs).sum / 1e3,
      "executor_cpu_s" -> ts.map(_.cpuNs).sum / 1e9,
      "gc_s" -> ts.map(_.gcMs).sum / 1e3,
      "shuffle_read_bytes" -> ts.map(_.shuffleRead).sum.toDouble,
      "shuffle_write_bytes" -> ts.map(_.shuffleWrite).sum.toDouble,
      "spill_bytes" -> ts.map(_.spill).sum.toDouble,
      "input_bytes" -> ts.map(_.input).sum.toDouble,
      "output_bytes" -> ts.map(_.output).sum.toDouble,
      "job_covered_s" -> SparkCounters.covered(js, startMs, endMs) / 1e3)
  }
}

object SparkCounters {
  /** Milliseconds of [lo, hi] covered by the union of the intervals. */
  def covered(iv: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    var total = 0L
    var reach = lo
    val clipped = iv.map { case (s, e) => (s max lo, e min hi) }.filter { case (s, e) => e > s }
    for ((s, e) <- clipped.sortBy(_._1) if e > reach) {
      total += e - (s max reach)
      reach = e
    }
    total
  }
}

final case class Progress(query: String, batchId: Long, rows: Long,
                          durations: Map[String, Long])

/** Micro-batch progress of every streaming query. Registered in every
  * run: a batch's latency is what a streaming user sees, so it is an
  * end-to-end metric, not a trace. */
final class StreamProgress extends StreamingQueryListener {
  val events = new ConcurrentLinkedQueue[Progress]()
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    events.add(Progress(p.name, p.batchId, p.numInputRows,
      p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap))
  }
  def of(query: String): Seq[Progress] =
    events.asScala.filter(p => p.query == query && p.rows > 0).toSeq.sortBy(_.batchId)
}

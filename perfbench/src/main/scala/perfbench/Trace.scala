package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Span recorder: spans (name, start, end, parent, run id) around the
  * benchmark's own calls into each layer, kept in memory and written
  * out once when the run ends. Disabled, [[span]] is a plain call. */
final class Spans(val runId: String, var enabled: Boolean) {
  final case class Span(id: Long, parent: Long, name: String,
                        startNs: Long, endNs: Long)

  private val ids = new AtomicLong(0)
  private val done = new ConcurrentLinkedQueue[Span]()
  private val open = new ThreadLocal[java.lang.Long] {
    override def initialValue(): java.lang.Long = 0L
  }

  /** Record `body` as a span, a child of this thread's open span. */
  def span[A](name: String)(body: => A): A =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val parent = open.get()
      open.set(id)
      val t0 = System.nanoTime()
      try body
      finally {
        done.add(Span(id, parent, name, t0, System.nanoTime()))
        open.set(parent)
      }
    }

  def all: Seq[Span] = done.asScala.toSeq.sortBy(_.startNs)

  def write(path: java.io.File): Unit = {
    path.getParentFile.mkdirs()
    val w = new java.io.PrintWriter(path, "UTF-8")
    try all.foreach { s =>
      w.println(s"""{"run":"$runId","id":${s.id},"parent":${s.parent},""" +
        s""""name":"${s.name}","start_ns":${s.startNs},""" +
        s""""end_ns":${s.endNs}}""")
    } finally w.close()
  }
}

/** Spark's own task, GC, shuffle and spill counters, read from outside
  * the engine through a listener. */
final class EngineCounters extends SparkListener {
  val taskRunMs = new AtomicLong
  val taskCpuNs = new AtomicLong
  val gcMs = new AtomicLong
  val schedDelayMs = new AtomicLong
  val shuffleWriteBytes = new AtomicLong
  val shuffleRecords = new AtomicLong
  val spillBytes = new AtomicLong
  val stages = new AtomicLong
  val tasks = new AtomicLong

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      taskRunMs.addAndGet(m.executorRunTime)
      taskCpuNs.addAndGet(m.executorCpuTime)
      gcMs.addAndGet(m.jvmGCTime)
      shuffleWriteBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      shuffleRecords.addAndGet(m.shuffleWriteMetrics.recordsWritten)
      spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      val info = e.taskInfo
      if (info != null && info.finishTime > 0) {
        val overhead = (info.finishTime - info.launchTime) -
          m.executorRunTime - m.executorDeserializeTime -
          m.resultSerializationTime - info.gettingResultTime
        schedDelayMs.addAndGet(math.max(0L, overhead))
      }
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    stages.incrementAndGet()
    ()
  }

  def reset(): Unit = Seq(taskRunMs, taskCpuNs, gcMs, schedDelayMs,
    shuffleWriteBytes, shuffleRecords, spillBytes, stages, tasks)
    .foreach(_.set(0))
}

/** Streaming-layer counters from `StreamingQueryProgress`. */
final class StreamCounters extends StreamingQueryListener {
  final case class P(batchMs: Long, addBatchMs: Long, commitMs: Long,
                     stateCommitMs: Long, stateRows: Long, stateBytes: Long,
                     dropped: Long, inputRows: Long, lagS: Option[Double])
  val progress = new ConcurrentLinkedQueue[P]()

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent)
      : Unit = ()
  override def onQueryTerminated(
      e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(
      e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    def d(k: String): Long =
      Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
    val ops = p.stateOperators.toSeq
    val wm = Option(p.eventTime.get("watermark")).map(w =>
      java.time.Instant.parse(w).toEpochMilli)
    val now = java.time.Instant.parse(p.timestamp).toEpochMilli
    progress.add(P(d("triggerExecution"), d("addBatch"),
      d("walCommit") + d("commitOffsets"), ops.map(_.commitTimeMs).sum,
      ops.map(_.numRowsTotal).sum, ops.map(_.memoryUsedBytes).sum,
      ops.map(_.numRowsDroppedByWatermark).sum, p.numInputRows,
      wm.filter(_ > 0).map(w => (now - w) / 1000.0)))
  }

  def all: Seq[P] = progress.asScala.toSeq
}

object Stats {
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.ceil(pos).toInt
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** The JVM's peak resident set (VmHWM), in MB. */
  def peakRssMb(): Double =
    scala.util.Using(scala.io.Source.fromFile("/proc/self/status"))(
      _.getLines().find(_.startsWith("VmHWM:"))
        .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0))
      .getOrElse(0.0)
}

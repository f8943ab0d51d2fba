package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicLong, LongAdder}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One traced interval. `parent` 0 is the run itself. */
final case class Span(id: Long, parent: Long, name: String, layer: String,
    startNs: Long, endNs: Long, attr: String)

/** In-memory span recorder, written out when the run ends. Spans are
  * recorded only while `on`; the untraced iterations of a traced run leave
  * it off so the two can be compared. */
object Trace {
  @volatile var on = false
  private val ids = new AtomicLong
  val spans = new ConcurrentLinkedQueue[Span]
  private val current = new ThreadLocal[java.lang.Long]
  /** Spark local property that carries the enclosing span into tasks. */
  val SpanProp = "perfbench.span"

  def parent: Long = Option(current.get()).map(_.longValue).getOrElse(0L)

  /** Parent for a request span: the task's table span, else the caller's. */
  def requestParent(): Long =
    Option(org.apache.spark.TaskContext.get())
      .flatMap(tc => Option(tc.getLocalProperty(SpanProp)))
      .map(_.toLong).getOrElse(parent)

  def newId(): Long = ids.incrementAndGet()

  def record(parent: Long, name: String, layer: String, t0: Long, t1: Long,
      attr: String = "", id: Long = 0L): Long = {
    val i = if (id == 0L) newId() else id
    spans.add(Span(i, parent, name, layer, t0, t1, attr))
    i
  }

  /** Time `body` as a child of the current span (or of `parent`); nested
    * calls on this thread become its children. `force` records it even
    * while tracing is off, for the spans that account for the run's wall
    * time. Returns the result and the elapsed nanoseconds. */
  def span[A](name: String, layer: String, attr: String = "", parent: Long = -1L,
      force: Boolean = false)(body: Long => A): (A, Long) = {
    val id = newId()
    val up = current.get()
    val p = if (parent >= 0) parent else Option(up).map(_.longValue).getOrElse(0L)
    current.set(id)
    val t0 = System.nanoTime()
    try {
      val a = body(id)
      (a, System.nanoTime() - t0)
    } finally {
      val t1 = System.nanoTime()
      if (up == null) current.remove() else current.set(up)
      if (on || force) spans.add(Span(id, p, name, layer, t0, t1, attr))
    }
  }

  def endpoint(url: String): String = {
    val p = url.stripPrefix(Account.Base).takeWhile(_ != '?')
    if (p.startsWith("/playlists/")) "/playlists/{id}/tracks" else p
  }

  def writeJsonl(path: java.nio.file.Path): Unit = {
    val w = java.nio.file.Files.newBufferedWriter(path)
    try spans.asScala.toSeq.sortBy(_.startNs).foreach { s =>
      w.write(s"""{"id":${s.id},"parent":${s.parent},"name":${Json.str(s.name)},""" +
        s""""layer":${Json.str(s.layer)},"start_ns":${s.startNs},"end_ns":${s.endNs},""" +
        s""""attr":${Json.str(s.attr)}}""")
      w.newLine()
    } finally w.close()
  }
}

/** Spark execution as the listener bus reports it. Records are kept raw and
  * attributed to query windows afterwards by time, so a late event cannot
  * land in the wrong window's counters. */
final class SparkTap extends SparkListener {
  final case class TaskRec(launchMs: Long, finishMs: Long, runMs: Long, cpuNs: Long,
      gcMs: Long, inBytes: Long, shWrite: Long, shRead: Long, fetchWaitMs: Long, spill: Long)
  val tasks = new ConcurrentLinkedQueue[TaskRec]
  val jobs = new ConcurrentLinkedQueue[java.lang.Long]
  val stages = new ConcurrentLinkedQueue[java.lang.Long]
  val events = new LongAdder

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    jobs.add(e.time); events.increment()
  }
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    stages.add(e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis()): Long)
    events.increment()
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    events.increment()
    val i = e.taskInfo
    val m = e.taskMetrics
    if (m == null) tasks.add(TaskRec(i.launchTime, i.finishTime, 0, 0, 0, 0, 0, 0, 0, 0))
    else tasks.add(TaskRec(i.launchTime, i.finishTime, m.executorRunTime, m.executorCpuTime,
      m.jvmGCTime, m.inputMetrics.bytesRead, m.shuffleWriteMetrics.bytesWritten,
      m.shuffleReadMetrics.totalBytesRead, m.shuffleReadMetrics.fetchWaitTime,
      m.diskBytesSpilled))
  }

  /** Wait until the bus has gone quiet, so every finished task is counted. */
  def drain(): Unit = {
    var last = -1L
    while (events.sum() != last) { last = events.sum(); Thread.sleep(200) }
  }

  /** Ledger of the window [fromMs, toMs). */
  def ledger(fromMs: Long, toMs: Long): Map[String, Double] = {
    val ts = tasks.asScala.filter(t => t.launchMs >= fromMs && t.launchMs < toMs).toSeq
    val mb = 1048576.0
    // wall time with no task running, and the most tasks running at once
    val edges = ts.flatMap(t => Seq((math.max(t.launchMs, fromMs), 1),
      (math.min(math.max(t.finishMs, t.launchMs), toMs), -1))).sortBy(e => (e._1, e._2))
    var running = 0; var peak = 0; var busyMs = 0L; var since = 0L
    edges.foreach { case (t, d) =>
      if (running == 0 && d > 0) since = t
      running += d
      peak = math.max(peak, running)
      if (running == 0 && d < 0) busyMs += t - since
    }
    def in(q: ConcurrentLinkedQueue[java.lang.Long]) =
      q.asScala.count(t => t >= fromMs && t < toMs).toDouble
    Map(
      "spark.jobs" -> in(jobs),
      "spark.stages" -> in(stages),
      "spark.tasks" -> ts.size.toDouble,
      "spark.task_s" -> ts.map(_.runMs).sum / 1e3,
      "spark.cpu_s" -> ts.map(_.cpuNs).sum / 1e9,
      "spark.gc_s" -> ts.map(_.gcMs).sum / 1e3,
      "spark.scan_mb" -> ts.map(_.inBytes).sum / mb,
      "spark.shuffle_write_mb" -> ts.map(_.shWrite).sum / mb,
      "spark.shuffle_read_mb" -> ts.map(_.shRead).sum / mb,
      "spark.shuffle_fetch_wait_s" -> ts.map(_.fetchWaitMs).sum / 1e3,
      "spark.spill_mb" -> ts.map(_.spill).sum / mb,
      "spark.max_parallel" -> peak.toDouble,
      "spark.driver_gap_s" -> math.max(0L, toMs - fromMs - busyMs) / 1e3)
  }
}

object SparkTap {
  val Keys: Seq[String] = Seq("spark.jobs", "spark.stages", "spark.tasks", "spark.task_s",
    "spark.cpu_s", "spark.gc_s", "spark.scan_mb", "spark.shuffle_write_mb",
    "spark.shuffle_read_mb", "spark.shuffle_fetch_wait_s", "spark.spill_mb",
    "spark.max_parallel", "spark.driver_gap_s")

  /** Whole-stage and expression codegen compiles so far in this JVM. */
  def compiles: Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount
}

/** Streaming progress from every session. Registered through the static
  * conf `spark.sql.streaming.streamingQueryListeners`, so the private cloned
  * sessions the stream queries run on report here too. */
final class StreamTap extends StreamingQueryListener {
  import StreamingQueryListener._
  override def onQueryStarted(e: QueryStartedEvent): Unit = StreamTap.starts.increment()
  override def onQueryProgress(e: QueryProgressEvent): Unit = {
    val p = e.progress
    def d(k: String): Long = Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
    StreamTap.batches.increment()
    StreamTap.batchMs.add(d("triggerExecution"))
    StreamTap.commitMs.add(d("walCommit") + d("commitOffsets") +
      p.stateOperators.map(_.commitTimeMs).sum)
  }
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
}

object StreamTap {
  val starts = new LongAdder
  val batches = new LongAdder
  val batchMs = new LongAdder
  val commitMs = new LongAdder
  def snapshot: Map[String, Double] = Map(
    "stream.starts" -> starts.sum.toDouble,
    "stream.batches" -> batches.sum.toDouble,
    "stream.batch_s" -> batchMs.sum / 1e3,
    "stream.commit_s" -> commitMs.sum / 1e3)
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.math.BigDecimal.valueOf(d).toPlainString
  def obj(kv: Iterable[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}

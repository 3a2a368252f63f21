package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener
import graft.runtime.Tracing
import graft.runtime.Tracing.Span

/** Spans come from graft's own tracer, `graft.runtime.Tracing`: the
  * benchmark opens spans around its calls into graft with `Tracing.span`,
  * and `StreamSpec.run` records `pipeline`, `input`, one span per processor,
  * `output`, and one span per Spark job while tracing is on. */
object Spans {
  /** Self time per span, in ms: its duration minus the part of its interval
    * that its children cover. Children may overlap (a Spark job span runs
    * beside the processor span that launched it), so their union counts. */
  def selfMs(spans: Seq[Span]): Map[Long, Double] = {
    val kids = spans.groupBy(_.parentId)
    spans.map { s =>
      val cover = kids.getOrElse(Some(s.id), Nil).map(k => (k.startUs * 1000, k.endUs * 1000))
      s.id -> ExecProbe.gapMs(cover, s.startUs * 1000, s.endUs * 1000)
    }.toMap
  }

  /** Total ms of the spans called `name`. */
  def ms(spans: Seq[Span], name: String): Double =
    spans.filter(_.operation == name).map(_.durationUs).sum / 1000.0

  /** One JSON line per span: id, parent, name, start, end and self time. */
  def write(path: Path, spans: Seq[Span]): Unit = {
    Files.createDirectories(path.getParent)
    val self = selfMs(spans)
    val lines = spans.sortBy(_.startUs).map(s =>
      s"""{"id":${s.id},"parent":${s.parentId.getOrElse(0L)},""" +
        s""""name":${Workloads.Json.writeValueAsString(s.operation)},""" +
        s""""start_us":${s.startUs},"end_us":${s.endUs},""" +
        f""""self_ms":${self(s.id)}%.3f}""")
    Files.write(path, lines.asJava, UTF_8)
  }
}

/** Executor-side counters for one measured interval, from Spark's public
  * scheduler events. */
final class ExecProbe extends SparkListener {
  final class Totals {
    var jobs, stages, tasks = 0L
    var runMs, cpuMs, gcMs = 0L
    var shufW, shufR, shufRecords, spill = 0L
    var inBytes, inRecords, outBytes, outRecords = 0L
    /** [start, end) of every job, in ns, for the driver-gap union. */
    val jobSpans = mutable.ArrayBuffer[(Long, Long)]()
    /** Per query, by the `ExecProbe.QueryKey` property of its jobs. */
    val byQuery = mutable.Map[String, ExecProbe.QueryTotals]()
    def query(q: String): ExecProbe.QueryTotals =
      byQuery.getOrElseUpdate(q, new ExecProbe.QueryTotals)
  }
  private val jobStart = mutable.Map[Int, Long]()
  private val stageQuery = mutable.Map[Int, String]()
  @volatile private var t = new Totals
  @volatile var events = 0L
  def idle: Boolean = synchronized(jobStart.isEmpty)

  def reset(): Unit = synchronized { t = new Totals; jobStart.clear(); stageQuery.clear() }
  def totals: Totals = synchronized(t)

  override def onOtherEvent(e: SparkListenerEvent): Unit = events += 1
  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    events += 1
    jobStart(e.jobId) = System.nanoTime()
    ExecProbe.queryOf(e.properties).foreach(t.query(_).jobs += 1)
  }
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    events += 1
    ExecProbe.queryOf(e.properties).foreach(stageQuery(e.stageInfo.stageId) = _)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    events += 1
    jobStart.remove(e.jobId).foreach { s =>
      t.jobs += 1
      t.jobSpans += ((s, System.nanoTime()))
    }
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized { events += 1; t.stages += 1 }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    events += 1
    t.tasks += 1
    Option(e.taskMetrics).foreach { m =>
      stageQuery.get(e.stageId).map(t.query).foreach { q =>
        q.tasks += 1; q.runMs += m.executorRunTime
      }
      t.runMs += m.executorRunTime
      t.cpuMs += m.executorCpuTime / 1000000L
      t.gcMs += m.jvmGCTime
      t.shufW += m.shuffleWriteMetrics.bytesWritten
      t.shufRecords += m.shuffleWriteMetrics.recordsWritten
      t.shufR += m.shuffleReadMetrics.totalBytesRead
      t.spill += m.diskBytesSpilled + m.memoryBytesSpilled
      t.inBytes += m.inputMetrics.bytesRead
      t.inRecords += m.inputMetrics.recordsRead
      t.outBytes += m.outputMetrics.bytesWritten
      t.outRecords += m.outputMetrics.recordsWritten
    }
  }

  def driverGapMs(t0: Long, t1: Long): Double = ExecProbe.gapMs(totals.jobSpans.toSeq, t0, t1)
}

object ExecProbe {
  /** The local property that names the query whose jobs and tasks follow. */
  val QueryKey = "perfbench.query"

  final class QueryTotals { var jobs, tasks, runMs = 0L }

  private def queryOf(props: java.util.Properties): Option[String] =
    Option(props).flatMap(p => Option(p.getProperty(QueryKey)))

  /** Wall time of [t0, t1) during which none of the jobs [start, end) ran,
    * in ms (times in ns). */
  def gapMs(jobs: Seq[(Long, Long)], t0: Long, t1: Long): Double = {
    val clipped = jobs.map { case (a, b) => (math.max(a, t0), math.min(b, t1)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var end = t0
    clipped.foreach { case (a, b) =>
      if (b > end) { covered += b - math.max(a, end); end = b }
    }
    (t1 - t0 - covered) / 1e6
  }
}

/** Catalyst phase times of every executed query, from
  * `QueryExecution.tracker`. */
final class CatalystProbe extends QueryExecutionListener {
  private val phases = mutable.Map[String, Long]().withDefaultValue(0L)
  private var executions = 0L

  def reset(): Unit = synchronized { phases.clear(); executions = 0L }
  def snapshot: (Map[String, Long], Long) = synchronized((phases.toMap, executions))

  private def record(qe: QueryExecution): Unit = synchronized {
    executions += 1
    qe.tracker.phases.foreach { case (k, v) => phases(k) += v.durationMs }
  }
  override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = record(qe)
  override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = record(qe)
}

/** Every micro-batch's progress; `recentProgress` keeps only the last 100. */
final class StreamProbe extends StreamingQueryListener {
  import StreamingQueryListener._
  private val buf = mutable.ArrayBuffer[org.apache.spark.sql.streaming.StreamingQueryProgress]()
  def reset(): Unit = synchronized(buf.clear())
  def progress: Seq[org.apache.spark.sql.streaming.StreamingQueryProgress] =
    synchronized(buf.toSeq)
  override def onQueryStarted(e: QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: QueryProgressEvent): Unit = synchronized(buf += e.progress)
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
}

/** The three listeners and graft's tracer, on only for traced passes. */
final class Probes(spark: SparkSession) {
  val exec = new ExecProbe
  val catalyst = new CatalystProbe
  val stream = new StreamProbe
  /** The spans of every traced pass so far. */
  val spans = mutable.ArrayBuffer[Span]()

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(exec)
    spark.listenerManager.register(catalyst)
    spark.streams.addListener(stream)
    exec.reset(); catalyst.reset(); stream.reset()
    Tracing.clear(); Tracing.enable()
  }

  /** Detach after the listener bus has delivered every queued event; the
    * spans of the pass. */
  def detach(): Seq[Span] = {
    drain()
    Tracing.disable(); Tracing.detachJobListener()
    spark.sparkContext.removeSparkListener(exec)
    spark.listenerManager.unregister(catalyst)
    spark.streams.removeListener(stream)
    val pass = Tracing.spans.toSeq
    Tracing.clear()
    spans ++= pass
    pass
  }

  /** Listener events arrive asynchronously: wait until no job is open and
    * no event has arrived for 200 ms. */
  private def drain(): Unit = {
    var last = -1L
    var quiet = 0
    val deadline = System.nanoTime() + 30000000000L
    while (quiet < 2 && System.nanoTime() < deadline) {
      Thread.sleep(100)
      val now = exec.events + stream.progress.size
      if (now == last && exec.idle) quiet += 1 else quiet = 0
      last = now
    }
  }
}

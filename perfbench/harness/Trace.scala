package perfbench

import graft.drivers.{DeltaDestination, DestinationDriver, ParquetDestinationDriver, SourceDriver}
import graft.spec.MigrationSpec
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._

/** Span and counter recording for the traced run.
  *
  * Spans are opened by the benchmark's own code around each call into a
  * public entry point and around each call through the delegating driver
  * wrappers below. The open span's id is set as a Spark local property on
  * the calling thread, so the [[JobListener]] can charge every job to the
  * span that launched it. Writes issued inside the program (the mapping
  * table and the destination generations) are classified by output path
  * in the same listener. Everything is kept in memory and dumped once at
  * the end of the run. With tracing off, `span` is a plain call.
  */
object Trace {
  val SpanKey = "perfbench.span"
  @volatile var enabled = false
  private var sc: SparkContext = _
  private val ids = new AtomicLong(0)
  private val stack = new ThreadLocal[List[Long]] { override def initialValue = Nil }

  final case class Span(id: Long, name: String, parent: Long, thread: Long,
      startMs: Double, endMs: Double)
  val spans = new ConcurrentLinkedQueue[Span]()

  // nanoTime-based wall clock in epoch milliseconds, comparable with the
  // listener events' timestamps but monotonic within the run
  private val epochOffsetMs = System.currentTimeMillis().toDouble - System.nanoTime() / 1e6
  def nowMs: Double = System.nanoTime() / 1e6 + epochOffsetMs

  def enable(spark: SparkSession): Unit = { sc = spark.sparkContext; enabled = true }

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val outer = stack.get
      val prev = sc.getLocalProperty(SpanKey)
      stack.set(id :: outer)
      sc.setLocalProperty(SpanKey, id.toString)
      val t0 = nowMs
      try body
      finally {
        spans.add(Span(id, name, outer.headOption.getOrElse(0L),
          Thread.currentThread().getId, t0, nowMs))
        stack.set(outer)
        sc.setLocalProperty(SpanKey, prev)
      }
    }
}

/** Per-job task counters, charged to the span that was open when the job
  * started. A failed task attempt counts only as a failure and a killed one
  * not at all; the successful attempt of a retried or speculative task
  * carries the work.
  *
  * File writes are classified by output path when their SQL execution
  * ends: the mapping directories are the `mapper` layer, `gen*` and
  * `mordelta_*` directories under a destination are the `drivers` layer,
  * anything else is the layer named by `other`. Rows, bytes and files come
  * from the write command's metrics. (The execution-end event reaches
  * every session's writes, including those of a streaming query's cloned
  * session, which a session-scoped QueryExecutionListener does not see.)
  */
final class JobListener(mappingRoots: () => Seq[String], other: String) extends SparkListener {
  final case class Write(execution: Long, layer: String, path: String, rows: Long,
      bytes: Long, files: Long, startMs: Long, endMs: Long)
  val writes = new ConcurrentLinkedQueue[Write]()

  final class Job(val id: Int, val span: Long, val execution: Long, val startMs: Long,
      val callSite: String) {
    var endMs = 0L
    var tasks = 0L
    var tasksFailed = 0L
    var cpuNs = 0L
    var shuffleRead = 0L
    var shuffleWrite = 0L
    var spill = 0L
    var peakMem = 0L
  }
  val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
  private val executionStart = new java.util.concurrent.ConcurrentHashMap[Long, Long]()
  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => executionStart.put(s.executionId, s.time)
    case x: SparkListenerSQLExecutionEnd =>
      // the event carries its QueryExecution in-process (a private[sql] field)
      val qe = x.getClass.getMethod("qe").invoke(x).asInstanceOf[QueryExecution]
      if (qe != null) commands(qe).foreach { c =>
        val path = c.outputPath.toUri.getPath
        val leaf = c.outputPath.getName
        val layer =
          if (mappingRoots().exists(r => path.startsWith(r + "/"))) "mapper"
          else if (leaf.matches("gen\\d+") || leaf.startsWith("mordelta_")) "drivers"
          else other
        def m(k: String) = c.metrics.get(k).map(_.value).getOrElse(0L)
        writes.add(Write(x.executionId, layer, path, m("numOutputRows"), m("numOutputBytes"),
          m("numFiles"), executionStart.getOrDefault(x.executionId, x.time), x.time))
      }
    case _ =>
  }

  // under AQE the write command sits inside the final plan's query stages
  private def commands(qe: QueryExecution): Seq[InsertIntoHadoopFsRelationCommand] = {
    def find(p: SparkPlan): Seq[InsertIntoHadoopFsRelationCommand] = p match {
      case DataWritingCommandExec(c: InsertIntoHadoopFsRelationCommand, _) => Seq(c)
      case a: AdaptiveSparkPlanExec => find(a.executedPlan)
      case q: QueryStageExec => find(q.plan)
      case other => other.children.flatMap(find)
    }
    find(qe.executedPlan)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val p = Option(e.properties)
    def prop(k: String) = p.flatMap(x => Option(x.getProperty(k))).map(_.toLong).getOrElse(-1L)
    jobs.put(e.jobId, new Job(e.jobId, prop(Trace.SpanKey), prop("spark.sql.execution.id"),
      e.time, p.flatMap(x => Option(x.getProperty("callSite.short"))).getOrElse("")))
    e.stageIds.foreach(s => stageJob.put(s, e.jobId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageJob.get(e.stageId)).flatMap(j => Option(jobs.get(j))).foreach { j =>
      j.synchronized {
        if (e.taskInfo.successful && e.taskMetrics != null) {
          val m = e.taskMetrics
          j.tasks += 1
          j.cpuNs += m.executorCpuTime
          j.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          j.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          j.peakMem = math.max(j.peakMem, m.peakExecutionMemory)
        } else if (e.taskInfo.failed) j.tasksFailed += 1
      }
    }
}

/** Trigger durations of every streaming micro-batch. */
final class TriggerListener extends StreamingQueryListener {
  val batches = new ConcurrentLinkedQueue[(Long, Long, Map[String, Long])]()
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    if (p.numInputRows > 0)
      batches.add((p.batchId, java.time.Instant.parse(p.timestamp).toEpochMilli,
        p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap))
  }
}

/** Delegating wrappers: each call is a `drivers.*` span and otherwise
  * reaches the wrapped driver unchanged.
  */
final class TracedSource(inner: SourceDriver) extends SourceDriver {
  override def read(spark: SparkSession, spec: MigrationSpec): DataFrame =
    Trace.span("drivers.read")(inner.read(spark, spec))
  override def count(spark: SparkSession, spec: MigrationSpec): Long =
    Trace.span("drivers.count")(inner.count(spark, spec))
}

final class TracedDestination(inner: ParquetDestinationDriver) extends DeltaDestination {
  override def snapshot(spark: SparkSession, spec: MigrationSpec): Option[DataFrame] =
    Trace.span("drivers.snapshot")(inner.snapshot(spark, spec))
  override def existingIds(spark: SparkSession, spec: MigrationSpec): Option[DataFrame] =
    Trace.span("drivers.existingIds")(inner.existingIds(spark, spec))
  override def write(df: DataFrame, spec: MigrationSpec): Unit =
    Trace.span("drivers.write")(inner.write(df, spec))
  override def overwriteIsReadSafe: Boolean = inner.overwriteIsReadSafe
  override def snapshotIsStableAcrossWrites: Boolean = inner.snapshotIsStableAcrossWrites
  override def supportsStubs: Boolean = inner.supportsStubs
  override def readByIds(spark: SparkSession, spec: MigrationSpec,
      ids: Map[String, Any]): Option[Row] =
    Trace.span("drivers.readByIds")(inner.readByIds(spark, spec, ids))
  override def appendDelta(df: DataFrame, spec: MigrationSpec): Long =
    Trace.span("drivers.appendDelta")(inner.appendDelta(df, spec))
  override def morSnapshot(spark: SparkSession, spec: MigrationSpec): Option[DataFrame] =
    Trace.span("drivers.morSnapshot")(inner.morSnapshot(spark, spec))
}

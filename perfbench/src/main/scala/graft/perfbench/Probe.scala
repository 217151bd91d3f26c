package graft.perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One span of the trace: workload → op → phase → Spark job → stage. All
  * spans of one op carry its id in `op`. Times are epoch milliseconds.
  */
final case class Span(id: String, parent: String, op: String, name: String,
    startMs: Double, endMs: Double)

/** In-memory span buffer, written out once when the run ends. */
final class Spans {
  private val buf = mutable.ArrayBuffer.empty[Span]
  def add(s: Span): Unit = synchronized { buf += s }
  def all: Seq[Span] = synchronized(buf.toList)
  def write(path: java.nio.file.Path): Unit = {
    val lines = all.map(s => Stats.json(Map(
      "id" -> s.id, "parent" -> s.parent, "op" -> s.op, "name" -> s.name,
      "start_ms" -> s.startMs, "end_ms" -> s.endMs)))
    java.nio.file.Files.write(path, lines.asJava)
  }
}

/** Executor-side totals of a set of tasks. */
final class TaskTotals {
  val tasks, runMs, cpuNs, gcMs, shuffleRead, shuffleWrite, spill, inputRows,
    outputBytes = new AtomicLong
  def add(m: org.apache.spark.executor.TaskMetrics): Unit = {
    tasks.incrementAndGet()
    runMs.addAndGet(m.executorRunTime)
    cpuNs.addAndGet(m.executorCpuTime)
    gcMs.addAndGet(m.jvmGCTime)
    shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
    shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
    spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
    inputRows.addAndGet(m.inputMetrics.recordsRead)
    outputBytes.addAndGet(m.outputMetrics.bytesWritten)
  }
}

/** Spark listener keyed by the job group the benchmark sets per op.
  *
  * A job whose group is an op id registered with [[opStarted]] is charged
  * to that op. Driver threads started by the op's thread (the engine's
  * `Overlap` pool) inherit its local properties, so their jobs land on the
  * same op. Jobs of other groups (a streaming query sets its run id as the
  * group) go to the op the client thread has in flight.
  */
final class JobProbe(spans: Spans) extends SparkListener {
  val total = new TaskTotals
  val jobs, stages = new AtomicLong
  private val ops = new ConcurrentHashMap[String, TaskTotals]()
  private val opJobs = new ConcurrentHashMap[String, AtomicLong]()
  private val jobOp = new ConcurrentHashMap[Int, String]()
  private val stageOp = new ConcurrentHashMap[Int, (String, Int)]()
  private val jobStart = new ConcurrentHashMap[Int, java.lang.Long]()
  private val open = new AtomicLong
  @volatile private var current: String = ""

  def opStarted(op: String): Unit = {
    ops.putIfAbsent(op, new TaskTotals)
    opJobs.putIfAbsent(op, new AtomicLong)
    current = op
  }
  def opEnded(): Unit = current = ""

  def opTotals(op: String): Option[TaskTotals] = Option(ops.get(op))
  def jobsOf(op: String): Long = Option(opJobs.get(op)).map(_.get).getOrElse(0L)

  /** Blocks until every started job has ended and been accounted (the
    * listener bus is asynchronous), or `timeoutMs` passes.
    */
  def settle(timeoutMs: Long = 5000): Unit = {
    val end = System.currentTimeMillis() + timeoutMs
    while (open.get > 0 && System.currentTimeMillis() < end) Thread.sleep(5)
    Thread.sleep(20)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    open.incrementAndGet()
    jobs.incrementAndGet()
    val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    val op = group.filter(ops.containsKey).getOrElse(current)
    jobOp.put(e.jobId, op)
    jobStart.put(e.jobId, e.time)
    Option(opJobs.get(op)).foreach(_.incrementAndGet())
    e.stageIds.foreach(sid => stageOp.putIfAbsent(sid, (op, e.jobId)))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val op = Option(jobOp.get(e.jobId)).getOrElse("")
    val start = Option(jobStart.remove(e.jobId)).map(_.toDouble).getOrElse(e.time.toDouble)
    spans.add(Span(s"job-${e.jobId}", op, op, "spark.job", start, e.time.toDouble))
    open.decrementAndGet()
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    stages.incrementAndGet()
    val info = e.stageInfo
    val (op, job) = Option(stageOp.get(info.stageId)).getOrElse(("", -1))
    val start = info.submissionTime.getOrElse(0L).toDouble
    val end = info.completionTime.getOrElse(start.toLong).toDouble
    spans.add(Span(s"stage-${info.stageId}.${info.attemptNumber()}", s"job-$job", op,
      "spark.stage", start, end))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(e.taskMetrics).foreach { m =>
      total.add(m)
      Option(stageOp.get(e.stageId)).flatMap(p => Option(ops.get(p._1))).foreach(_.add(m))
    }
}

/** Streaming progress, as the engine reports it per micro-batch. */
final class StreamProbe extends StreamingQueryListener {
  final case class Batch(query: String, inputRows: Long, durations: Map[String, Long],
      stateRows: Long, stateMem: Long, commitMs: Long, removed: Long, dropped: Long)
  private val buf = mutable.ArrayBuffer.empty[Batch]

  def batches: Seq[Batch] = synchronized(buf.toList)

  /** Waits until no progress event arrived for 300 ms (at most 3 s): the
    * listener bus delivers them asynchronously.
    */
  def settle(): Unit = {
    val end = System.currentTimeMillis() + 3000
    var seen = -1
    while (seen != synchronized(buf.size) && System.currentTimeMillis() < end) {
      seen = synchronized(buf.size)
      Thread.sleep(300)
    }
  }

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    val ops = p.stateOperators.toSeq
    val b = Batch(
      Option(p.name).getOrElse(""), p.numInputRows,
      p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
      ops.map(_.numRowsTotal).sum, ops.map(_.memoryUsedBytes).sum,
      ops.map(_.commitTimeMs).sum, ops.map(_.numRowsRemoved).sum,
      ops.map(_.numRowsDroppedByWatermark).sum)
    synchronized(buf += b)
  }
}

/** Counts the engine's "replaced a previously registered function" log
  * events through a log4j appender on the root logger.
  */
final class RegistrationCounter {
  val count = new AtomicLong
  private val ctx = org.apache.logging.log4j.LogManager.getContext(false)
    .asInstanceOf[org.apache.logging.log4j.core.LoggerContext]
  private val appender = new org.apache.logging.log4j.core.appender.AbstractAppender(
      "perfbench-reregistrations", null, null, true,
      org.apache.logging.log4j.core.config.Property.EMPTY_ARRAY) {
    override def append(e: org.apache.logging.log4j.core.LogEvent): Unit =
      if (e.getMessage.getFormattedMessage.contains("replaced a previously registered function"))
        count.incrementAndGet()
  }

  def install(): Unit = {
    appender.start()
    ctx.getConfiguration.getRootLogger.addAppender(appender, null, null)
    ctx.updateLoggers()
  }

  def remove(): Unit = {
    ctx.getConfiguration.getRootLogger.removeAppender(appender.getName)
    ctx.updateLoggers()
    appender.stop()
  }
}

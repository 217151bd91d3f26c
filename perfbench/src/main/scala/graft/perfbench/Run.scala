package graft.perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** One client operation as the benchmark saw it. `kind` is `read`,
  * `write` or `microbatch`; `error` holds the exception class and message
  * of an op that threw, or the reason an op failed its result check.
  */
final case class OpRecord(id: String, phase: String, kind: String, name: String,
    seconds: Double, rows: Long, error: Option[String])

/** State of one benchmark run: the op log, the trace and the probes. */
final class Run(val workload: String, val work: Path) {
  val spans = new Spans
  val ops = mutable.ArrayBuffer.empty[OpRecord]
  var phase = "setup"
  var jobProbe: Option[JobProbe] = None
  var streamProbe: Option[StreamProbe] = None
  private var seq = 0

  def dir(name: String): Path = {
    val d = work.resolve(name)
    Files.createDirectories(d)
    d
  }

  /** Runs one op on the client thread under its own job group. The op's
    * time is the wall time of `body`; a throw is recorded with its class,
    * message and causes, never dropped.
    */
  def op[T](kind: String, name: String)(body: String => T)(implicit s: SparkSession): Option[T] = {
    seq += 1
    val id = s"$workload.$phase.$seq"
    val sc = s.sparkContext
    sc.setJobGroup(id, s"$kind $name", interruptOnCancel = false)
    jobProbe.foreach(_.opStarted(id))
    val startMs = System.currentTimeMillis().toDouble
    val t0 = System.nanoTime()
    val out =
      try Right(body(id))
      catch {
        case e: VirtualMachineError => throw e
        case NonFatal(e) => Left(Run.describe(e))
      }
    val secs = (System.nanoTime() - t0) / 1e9
    jobProbe.foreach(_.opEnded())
    sc.clearJobGroup()
    val rows = out match {
      case Right(r: Rows) => r.n
      case _ => 0L
    }
    ops.synchronized {
      ops += OpRecord(id, phase, kind, name, secs, rows, out.left.toOption)
    }
    spans.add(Span(id, s"$workload.$phase", id, s"$kind $name", startMs, startMs + secs * 1000))
    out.toOption
  }

  /** Marks a recorded op as failed by its result check. */
  def fail(id: String, reason: String): Unit = ops.synchronized {
    val i = ops.indexWhere(_.id == id)
    if (i >= 0 && ops(i).error.isEmpty) ops(i) = ops(i).copy(error = Some("check: " + reason))
  }

  def phaseOps(p: String): Seq[OpRecord] = ops.synchronized(ops.filter(_.phase == p).toList)
}

/** Rows an op returned to the client, for the useful-work ratios. */
final case class Rows(n: Long)

object Run {
  def describe(e: Throwable): String = {
    val chain = Iterator.iterate(e)(_.getCause).takeWhile(_ != null).take(6)
    chain.map(t => s"${t.getClass.getName}: ${t.getMessage}").mkString(" <- caused by ")
  }
}

package graft.perfbench

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

import graft.GraftSession

/** A workload: set up, warmed, measured in closed loop, then verified. */
trait Workload {
  /** One set-up round: session start, input generation and staging, and
    * any initial index builds. Called [[Main.SetupRounds]] times; the
    * last round's state is the one measured.
    */
  def setup(run: Run): Unit
  /** Set-up done once after the rounds (too slow to repeat), in seconds. */
  def setupOnce(run: Run): Double = 0.0
  def warmup(run: Run): Unit
  /** Runs one unit of work (a pass, a replay, a cycle) as ops on `run`. */
  def unit(run: Run): Unit
  /** Units a plain phase makes at least, whatever `--seconds` says. */
  def minUnits: Int
  /** End-of-run result checks; mismatches are recorded as failed ops. */
  def verify(run: Run): Unit
  def inputDigest: String
  /** Input rows consumed in `phase` (streaming), for `rows_per_s`. */
  def inputRows(run: Run, phase: String): Long = 0L
  /** Workload-level figures beyond the latency split, by name. */
  def extra(run: Run): Seq[(String, Double, String)] = Nil
  /** Per-layer figures of the traced phase, by name. */
  def layers(run: Run): Seq[(String, Double, String)] = Nil
  /** The last set-up round's parts, by name, for the record. */
  def setupParts: Map[String, Double] = Map.empty
  /** Seconds each set-up round spent starting its session. */
  def sessionStartS: Seq[Double]
  def spark: SparkSession
  def close(): Unit
}

object Main {
  val SetupRounds = 3

  /** Cores of `local[n]`: every core the process may use. */
  val cores: Int = Runtime.getRuntime.availableProcessors

  def session(work: Path, app: String, nCores: Int = cores,
      streaming: Boolean = false): SparkSession = {
    val b =
      if (streaming) GraftSession.streamingBuilder(app, nCores.toString)
      else GraftSession.builder(app, nCores.toString)
    val s = b
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def stop(s: SparkSession): Unit = {
    s.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  def loadAvg(): Double =
    new String(Files.readAllBytes(Paths.get("/proc/loadavg"))).trim.split("\\s+")(0).toDouble

  /** Peak resident set of this process (VmHWM), in MB. */
  def peakRssMb(): Double = {
    val line = new String(Files.readAllBytes(Paths.get("/proc/self/status")))
      .split("\n").find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }

  private def arg(args: Array[String], name: String): Option[String] = {
    val i = args.indexOf(name)
    if (i >= 0 && i + 1 < args.length) Some(args(i + 1)) else None
  }

  def main(args: Array[String]): Unit = {
    def need(n: String) = arg(args, n).getOrElse(sys.error(s"missing $n"))
    val workload = need("--workload")
    val seed = need("--seed").toLong
    val seconds = need("--seconds").toInt
    val trace = need("--trace") == "1"
    val work = Paths.get(need("--work")).toAbsolutePath
    val out = Paths.get(need("--out"))
    Files.createDirectories(work)
    val run = new Run(workload, work)
    val w: Workload = workload match {
      case "catalog_reads" => new CatalogReads(seed, Paths.get(need("--queries")))
      case "stream_replay" => new StreamReplay(seed)
      case "index_churn" => new IndexChurn(seed)
      case other => sys.error(s"unknown workload $other")
    }
    val loadStart = loadAvg()
    val runStartMs = System.currentTimeMillis().toDouble
    val setupS = (1 to SetupRounds).map { _ =>
      val t0 = System.nanoTime()
      w.setup(run)
      (System.nanoTime() - t0) / 1e9
    }
    val setupOnceS = w.setupOnce(run)
    val setupMedian = Stats.median(setupS) + setupOnceS
    run.phase = "warmup"
    w.warmup(run)

    // A traced run measures the same units as a plain run, with the probes
    // installed; the tracing overhead is its end-to-end figures minus a
    // plain run's.
    val phase = if (trace) "traced" else "plain"
    val regs = new RegistrationCounter
    if (trace) {
      val jp = new JobProbe(run.spans)
      val sp = new StreamProbe
      w.spark.sparkContext.addSparkListener(jp)
      w.spark.streams.addListener(sp)
      regs.install()
      run.jobProbe = Some(jp)
      run.streamProbe = Some(sp)
    }
    run.phase = phase
    System.gc()
    val startMs = System.currentTimeMillis().toDouble
    val t0 = System.nanoTime()
    val deadline = t0 + seconds * 1000000000L
    var units = 0
    while (units < w.minUnits || System.nanoTime() < deadline) {
      w.unit(run)
      units += 1
    }
    val wall = (System.nanoTime() - t0) / 1e9
    val rss = peakRssMb()
    run.spans.add(Span(s"$workload.$phase", workload, "", s"phase $phase", startMs,
      startMs + wall * 1000))
    val figures = e2e(run, phase, wall, rss, setupMedian)
    var layers = Seq.empty[(String, Double, String)]
    run.jobProbe.foreach { jp =>
      jp.settle()
      run.streamProbe.foreach(_.settle())
      layers = Probes.sparkLayers(jp, wall) ++ w.layers(run) ++
        Seq(("functions.reregistrations", regs.count.get.toDouble, "count")) ++
        figures.toSeq.filter(_._1 != "setup_s").map { case (m, (v, u)) => (s"trace.$m", v, u) }
      regs.remove()
    }
    run.phase = "verify"
    val verifyStartMs = System.currentTimeMillis().toDouble
    w.verify(run)
    run.spans.add(Span(s"$workload.verify", workload, "", "phase verify", verifyStartMs,
      System.currentTimeMillis().toDouble))
    val wl = workloadMetrics(run, w, phase, wall)
    if (trace) layers = layers ++ wl.map(f => (s"workload.${f.name}", f.value, f.unit))
    val digest = w.inputDigest
    val sessionStart = w.sessionStartS
    w.close()
    if (trace) {
      run.spans.add(Span(workload, "", "", "workload", runStartMs,
        System.currentTimeMillis().toDouble))
      run.spans.write(Paths.get(need("--spans")))
    }

    val measuredOps = run.ops.filter(o => Set("plain", "traced", "verify")(o.phase))
    val failedOps = measuredOps.filter(_.error.nonEmpty)
    val record = Map(
      "workload" -> workload, "seed" -> seed, "trace" -> trace, "seconds" -> seconds,
      "nproc" -> cores, "loadavg_start" -> loadStart, "loadavg_end" -> loadAvg(),
      "input_digest" -> digest, "units" -> units,
      "setup_rounds_s" -> setupS, "setup_once_s" -> setupOnceS,
      "session_start_s" -> sessionStart,
      "setup_parts_s" -> w.setupParts,
      "attempted" -> measuredOps.size, "failed" -> failedOps.size,
      "failures" -> failedOps.map(o => Map("op" -> o.id, "name" -> o.name,
        "error" -> o.error.getOrElse(""))),
      "ops" -> measuredOps.map(o => Map("id" -> o.id, "phase" -> o.phase, "kind" -> o.kind,
        "name" -> o.name, "seconds" -> o.seconds, "ok" -> o.error.isEmpty)),
      "end_to_end" -> figures.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) },
      "workload_metrics" -> wl.map(f => f.name -> f.record).toMap,
      "per_layer" -> layers.map { case (k, v, u) => k -> Map("value" -> v, "unit" -> u) }.toMap,
    ) ++ (w match {
      case c: CatalogReads => c.oracleInputs
      case _ => Map.empty[String, Any]
    })
    Files.write(out, Stats.json(record).getBytes("UTF-8"))
  }

  /** Cross-workload end-to-end metrics of one measured phase. */
  def e2e(run: Run, phase: String, wall: Double, rss: Double,
      setup: Double): Map[String, (Double, String)] = {
    val t = run.phaseOps(phase).map(_.seconds)
    Map(
      "setup_s" -> (setup, "s"),
      "op_p50_s" -> (Stats.median(t), "s"),
      "op_tail_s" -> (Stats.tail(t).value, "s"),
      "ops_per_s" -> (t.size / wall, "ops/s"),
      "peak_rss_mb" -> (rss, "MB"))
  }

  /** A workload-level figure; `extra` carries a tail's percentile and counts. */
  final case class Figure(name: String, value: Double, unit: String,
      extra: Map[String, Any] = Map.empty) {
    def record: Map[String, Any] = Map("value" -> value, "unit" -> unit) ++ extra
  }

  /** The latency split by op kind, with each tail's percentile and count. */
  def workloadMetrics(run: Run, w: Workload, phase: String, wall: Double): Seq[Figure] = {
    val ops = run.phaseOps(phase)
    val split = Seq("read", "write", "microbatch").flatMap { kind =>
      val t = ops.filter(_.kind == kind).map(_.seconds)
      if (t.isEmpty) Nil
      else {
        val tl = Stats.tail(t)
        Seq(Figure(s"${kind}_p50_s", Stats.median(t), "s", Map("n" -> t.size)),
          Figure(s"${kind}_tail_s", tl.value, "s",
            Map("percentile" -> tl.percentile, "beyond" -> tl.beyond, "n" -> tl.n)))
      }
    }
    val all = run.ops.filter(o => o.phase != "setup" && o.phase != "warmup")
    val rows = w.inputRows(run, phase)
    split ++
      (if (rows > 0) Seq(Figure("rows_per_s", rows / wall, "rows/s")) else Nil) ++
      w.extra(run).map { case (k, v, u) => Figure(k, v, u) } ++
      Seq(Figure("failed_frac", all.count(_.error.nonEmpty).toDouble / math.max(1, all.size), "ratio"),
        Figure("ops_per_s", ops.size / wall, "ops/s"))
  }
}

object Probes {
  /** The `spark.*` layer of a traced phase. */
  def sparkLayers(jp: JobProbe, wall: Double): Seq[(String, Double, String)] = {
    val t = jp.total
    Seq(
      ("spark.jobs", jp.jobs.get.toDouble, "count"),
      ("spark.stages", jp.stages.get.toDouble, "count"),
      ("spark.tasks", t.tasks.get.toDouble, "count"),
      ("spark.task_run_s", t.runMs.get / 1e3, "s"),
      ("spark.task_cpu_s", t.cpuNs.get / 1e9, "s"),
      ("spark.gc_s", t.gcMs.get / 1e3, "s"),
      ("spark.cores_busy_frac", t.runMs.get / 1e3 / (wall * Main.cores), "ratio"),
      ("spark.shuffle_read_bytes", t.shuffleRead.get.toDouble, "bytes"),
      ("spark.shuffle_write_bytes", t.shuffleWrite.get.toDouble, "bytes"),
      ("spark.spill_bytes", t.spill.get.toDouble, "bytes"),
      ("spark.output_bytes", t.outputBytes.get.toDouble, "bytes"))
  }
}

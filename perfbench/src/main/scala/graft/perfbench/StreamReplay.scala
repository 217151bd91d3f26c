package graft.perfbench

import scala.collection.mutable

import org.apache.spark.sql.{Dataset, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.model._
import graft.operators._
import graft.streaming.Streams

/** One row of the pay/receipt stream: both sides ride one source so a
  * micro-batch always carries both halves of its time range.
  */
final case class TxIn(kind: String, orderId: Long, txId: String, payChannel: String,
    timestamp: Long)

/** `stream_replay`: the reference's six streaming jobs, one after another,
  * each fed seeded, time-ordered micro-batches through `MemoryStream` on
  * the RocksDB state store; the next batch is added only after
  * `processAllAvailable` returns. It loads the `streaming` micro-batch loop
  * and the `operators` state path, with little planning and no index I/O.
  */
final class StreamReplay(seed: Long) extends Workload {
  import StreamReplay._

  var spark: SparkSession = _
  private val starts = mutable.ArrayBuffer.empty[Double]
  def sessionStartS: Seq[Double] = starts.toSeq
  private var in: Inputs = _
  private var work: java.nio.file.Path = _
  private var ckpt = 0
  /** Every replay's collected outputs, per job, checked in [[verify]]. */
  private val replays = mutable.ArrayBuffer.empty[(String, String, Seq[String])]
  /** Per phase: job -> (input rows, wall seconds). */
  private val jobWall = mutable.Map.empty[(String, String), (Long, Double)]
  private var oneCoreRowsPerS = 0.0

  def inputDigest: String = in.digest

  def setup(run: Run): Unit = {
    if (spark != null) Main.stop(spark)
    work = run.work
    val t0 = System.nanoTime()
    spark = Main.session(run.work, "perfbench-stream", streaming = true)
    starts += (System.nanoTime() - t0) / 1e9
    in = Inputs.generate(seed)
  }

  /** No separate warm-up: every run's replay has the same cold first
    * batches, and a warm-up replay costs as much as a measured one.
    */
  def warmup(run: Run): Unit = ()

  def unit(run: Run): Unit = replay(run)
  def minUnits: Int = 1

  override def inputRows(run: Run, phase: String): Long =
    jobWall.collect { case ((p, _), (rows, _)) if p == phase => rows }.sum

  private def replay(run: Run): Unit = {
    implicit val s: SparkSession = spark
    jobs.foreach { job =>
      val t0 = System.nanoTime()
      val (rows, out) = job.run(this, run, Int.MaxValue)
      val secs = (System.nanoTime() - t0) / 1e9
      val k = (run.phase, job.name)
      val (r0, s0) = jobWall.getOrElse(k, (0L, 0.0))
      jobWall(k) = (r0 + rows, s0 + secs)
      replays += ((job.name, run.ops.last.id, out))
    }
  }

  private[perfbench] def checkpoint(): String = {
    ckpt += 1
    work.resolve(s"ckpt-$ckpt").toString
  }

  /** Feeds `batches` one at a time, each as one micro-batch op. */
  private[perfbench] def drive[T](run: Run, job: String, mem: MemoryStream[T],
      q: StreamingQuery, batches: Seq[Seq[T]])(implicit s: SparkSession): Long = {
    try batches.foreach { b =>
      run.op("microbatch", job) { _ =>
        mem.addData(b)
        q.processAllAvailable()
      }
    } finally q.stop()
    batches.map(_.size.toLong).sum
  }

  /** Each replay's output must equal the job's batch form over the same
    * input minus the generator's known-late rows. A mismatch fails the
    * replay's last micro-batch op.
    */
  def verify(run: Run): Unit = {
    implicit val s: SparkSession = spark
    val expected = jobs.map(j => j.name -> j.expected(this, spark)).toMap
    replays.foreach { case (job, opId, got) =>
      val want = expected(job)
      if (got != want) {
        val missing = want.diff(got).take(2)
        val extra = got.diff(want).take(2)
        run.fail(opId, s"$job output differs from its batch form: ${want.size} expected, " +
          s"${got.size} got; missing ${missing.mkString("; ")}; unexpected ${extra.mkString("; ")}")
      }
    }
  }

  /** Also runs the one-core base replay, after the traced phase. */
  override def layers(run: Run): Seq[(String, Double, String)] = {
    val probe = run.streamProbe.get
    val batches = probe.batches
    def mean(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else xs.sum / xs.size
    def dur(k: String) = mean(batches.map(_.durations.getOrElse(k, 0L).toDouble))
    val stateful = batches.filter(b => Detectors.contains(b.query))
    val late = jobs.filter(j => Detectors.contains(j.name)).map { j =>
      j.lateRows(in).toLong * replays.count(r => r._1 == j.name && r._2.contains(".traced."))
    }.sum
    val perJob = jobs.map { j =>
      val (rows, secs) = jobWall.getOrElse(("traced", j.name), (0L, 1.0))
      (s"streaming.${j.name}.rows_per_s", rows / secs, "rows/s")
    }
    oneCoreReplay(run)
    perJob ++ Seq(
      ("streaming.rows_per_s_1core", oneCoreRowsPerS, "rows/s"),
      ("streaming.add_batch_ms", dur("addBatch"), "ms"),
      ("streaming.query_planning_ms", dur("queryPlanning"), "ms"),
      ("streaming.wal_commit_ms", dur("walCommit"), "ms"),
      ("streaming.commit_offsets_ms", dur("commitOffsets"), "ms"),
      ("operators.state_rows_peak", batches.map(_.stateRows).maxOption.getOrElse(0L).toDouble, "count"),
      ("operators.state_mem_bytes_peak", batches.map(_.stateMem).maxOption.getOrElse(0L).toDouble, "bytes"),
      ("operators.state_commit_ms", mean(batches.filter(_.commitMs > 0).map(_.commitMs.toDouble)), "ms"),
      ("operators.state_rows_removed", batches.map(_.removed).sum.toDouble, "count"),
      ("operators.late_rows_dropped_ratio",
        stateful.map(_.dropped).sum.toDouble / math.max(1L, late), "ratio"),
      ("session.start_s", Stats.median(sessionStartS), "s"))
  }

  /** The six jobs on a one-core session, the single-threaded base: one
    * batch each (plus the flush), to keep traced runs inside the budget.
    */
  private def oneCoreReplay(run: Run): Unit = {
    Main.stop(spark)
    spark = Main.session(run.work, "perfbench-stream-1core", nCores = 1, streaming = true)
    val phase = run.phase
    run.phase = "1core"
    val startMs = System.currentTimeMillis().toDouble
    val t0 = System.nanoTime()
    val rows = jobs.map(_.run(this, run, batchLimit = 1)(spark)._1).sum
    val secs = (System.nanoTime() - t0) / 1e9
    oneCoreRowsPerS = rows / secs
    run.spans.add(Span("stream_replay.1core", "stream_replay", "", "phase 1core", startMs,
      startMs + secs * 1000))
    run.phase = phase
  }

  def close(): Unit = Main.stop(spark)
}

object StreamReplay {
  val SpanSec = 8 * 3600L
  val Batches = 3
  /** Watermark delay: the time span of one micro-batch, so every in-batch
    * disorder lies within it.
    */
  val DelaySec: Long = SpanSec / Batches
  val Delay = s"$DelaySec seconds"
  /** 2017-11-26 02:00 UTC: the whole replay lies in one UTC day. */
  val T0 = 1511661600L
  val FlushTs: Long = T0 + 3 * 86400L
  val UserBehaviors = 16000
  val AdClicks = 12000
  val Logins = 9000
  val Orders = 3000
  /** Share of rows permuted within their micro-batch. */
  val DisorderShare = 0.2
  /** Share of rows held back past the watermark (dropped as late). */
  val LateShare = 0.01
  val AdThreshold = 20
  val Detectors = Set("ad_blacklist", "login_fail", "order_pay", "tx_match")

  /** A job's input as micro-batches, and which rows were made late. */
  final case class Batched[T](batches: Seq[Seq[T]], late: Set[Int], rows: Seq[T]) {
    def onTime: Seq[T] = rows.indices.filterNot(late).map(rows)
  }

  final case class Inputs(ub: Batched[UserBehavior], ad: Batched[AdClickEvent],
      login: Batched[LoginEvent], order: Batched[OrderEvent], tx: Batched[TxIn],
      digest: String)

  object Inputs {
    def generate(seed: Long): Inputs = {
      val d = new Digest
      def ts(r: java.util.SplittableRandom, n: Int) =
        Array.fill(n)(T0 + r.nextLong(SpanSec)).sorted

      var r = Gen.rng(seed, "ub")
      val items = new Zipf(5000, 1.1); val users = new Zipf(20000, 0.8)
      val behaviors = Vector.fill(89)("pv") ++ Vector.fill(5)("cart") ++
        Vector.fill(3)("fav") ++ Vector.fill(3)("buy")
      val ub = ts(r, UserBehaviors).toSeq.map { t =>
        val item = items.draw(r).toLong
        UserBehavior(users.draw(r).toLong, item, (item % 97).toInt, Gen.pick(r, behaviors), t)
      }
      r = Gen.rng(seed, "ad")
      val adUsers = new Zipf(3000, 1.0); val ads = new Zipf(50, 1.2)
      val provinces = Vector("beijing", "shanghai", "guangdong", "zhejiang", "sichuan")
      val ad = ts(r, AdClicks).toSeq.map { t =>
        val p = Gen.pick(r, provinces)
        AdClickEvent(adUsers.draw(r).toLong, ads.draw(r).toLong, p, p + "-" + r.nextInt(4), t)
      }
      r = Gen.rng(seed, "login")
      val loginUsers = new Zipf(2000, 0.8)
      // bursts of 1-4 attempts a second apart, so fail runs inside the
      // detector's 2 s window are common
      val login = ts(r, Logins / 2).toSeq.flatMap { t =>
        val user = loginUsers.draw(r).toLong
        val ip = s"10.0.${r.nextInt(256)}.${r.nextInt(256)}"
        (0 until 1 + r.nextInt(4)).map { k =>
          LoginEvent(user, ip, if (r.nextInt(10) < 6) "fail" else "success", t + k)
        }
      }.sortBy(_.timestamp)
      r = Gen.rng(seed, "order")
      val orderEv = mutable.ArrayBuffer.empty[OrderEvent]
      val txEv = mutable.ArrayBuffer.empty[TxIn]
      val channels = Vector("wechat", "alipay")
      (0 until Orders).foreach { o =>
        val created = T0 + r.nextLong(SpanSec - 3600)
        val kind = r.nextInt(100)
        if (kind < 95) orderEv += OrderEvent(o.toLong, "create", "", created)
        if (kind < 85 || kind >= 95) {
          val payTs = created + (-400.0 * math.log(math.max(r.nextDouble(), 1e-9))).toLong
          val tx = s"tx$o"
          orderEv += OrderEvent(o.toLong, "pay", tx, payTs)
          txEv += TxIn("pay", o.toLong, tx, "", payTs)
          if (r.nextInt(10) < 9)
            txEv += TxIn("receipt", 0L, tx, Gen.pick(r, channels), payTs - 4 + r.nextInt(11))
        }
        if (r.nextInt(100) < 3)
          txEv += TxIn("receipt", 0L, s"rx$o", Gen.pick(r, channels), created + r.nextInt(600))
      }
      r = Gen.rng(seed, "batches")
      val in = Inputs(
        batched(ub, 3600L, r, d)(_.timestamp),
        batched(ad, 0L, r, d)(_.timestamp),
        batched(login, 0L, r, d)(_.timestamp),
        batched(orderEv.sortBy(_.timestamp).toSeq, 0L, r, d)(_.timestamp),
        batched(txEv.sortBy(_.timestamp).toSeq, 0L, r, d)(_.timestamp), "")
      in.copy(digest = d.hex)
    }

    /** Splits time-sorted `rows` into [[Batches]] equal micro-batches,
      * permutes a [[DisorderShare]] of each batch in place, and moves a
      * [[LateShare]] of rows to the first later batch whose watermark
      * (max earlier event time minus the delay) exceeds the row's time
      * plus `horizon` - the window length, for windowed jobs - so the
      * engine must drop it.
      */
    def batched[T](rows: Seq[T], horizon: Long, r: java.util.SplittableRandom,
        d: Digest)(ts: T => Long): Batched[T] = {
      val size = (rows.size + Batches - 1) / Batches
      val chunks = rows.indices.grouped(size).map(_.toBuffer).toVector
      val maxTs = chunks.map(c => c.map(i => ts(rows(i))).max)
      val late = mutable.Set.empty[Int]
      for (c <- chunks.indices; i <- chunks(c).toList if r.nextDouble() < LateShare) {
        val t = ts(rows(i))
        (c + 1 until chunks.size)
          .find(k => maxTs.take(k).max - DelaySec > t + horizon + 1)
          .foreach { k => chunks(c) -= i; chunks(k) += i; late += i }
      }
      val batches = chunks.map { c =>
        val a = c.toArray
        a.indices.foreach { j =>
          if (r.nextDouble() < DisorderShare) {
            val k = j + r.nextInt(a.length - j)
            val x = a(j); a(j) = a(k); a(k) = x
          }
        }
        a.toSeq.map(rows)
      }
      batches.foreach(_.foreach(x => d.add(x.toString)))
      Batched(batches, late.toSet, rows)
    }
  }

  /** A job: its streaming run and its batch-form expectation, both as
    * canonical output lines.
    */
  abstract class Job(val name: String) {
    def run(w: StreamReplay, run: Run, batchLimit: Int)(implicit s: SparkSession): (Long, Seq[String])
    def expected(w: StreamReplay, s: SparkSession): Seq[String]
    def lateRows(in: Inputs): Int
  }

  private def sink[T](collect: Dataset[T] => Unit) =
    (b: Dataset[T], _: Long) => collect(b)

  private def timed[T](ds: Dataset[T]): Dataset[T] = {
    implicit val e: Encoder[T] = ds.encoder
    ds.withColumn("eventTime", timestamp_seconds(col("timestamp")))
      .withWatermark("eventTime", Delay).as[T]
  }

  val jobs: Seq[Job] = Seq(
    new Job("hot_items") {
      def run(w: StreamReplay, run: Run, n: Int)(implicit s: SparkSession) = {
        implicit val sq = s.sqlContext
        implicit val e = Encoders.product[UserBehavior]
        val latest = mutable.Map.empty[(Long, Long), Long]
        val mem = MemoryStream[UserBehavior]
        val q = Streams.hotItemsTopN(mem.toDS(), topN = Int.MaxValue, delay = Delay) { (ranked, _) =>
          ranked.collect().foreach { r =>
            latest((r.getAs[Long]("windowEnd"), r.getAs[Long]("itemId"))) = r.getAs[Long]("cnt")
          }
        }.queryName(name).option("checkpointLocation", w.checkpoint()).start()
        val rows = w.drive(run, name, mem, q, w.in.ub.batches.take(n))
        (rows, latest.toSeq.map { case ((we, it), c) => s"$we|$it|$c" }.sorted)
      }
      def expected(w: StreamReplay, s: SparkSession) = {
        import s.implicits._
        Windowed.hotItems(w.in.ub.onTime.toDS(), topN = Int.MaxValue).collect()
          .map(r => s"${r.getAs[Long]("windowEnd")}|${r.getAs[Long]("itemId")}|${r.getAs[Long]("cnt")}")
          .toSeq.sorted
      }
      def lateRows(in: Inputs) = in.ub.late.size
    },
    new Job("uv_bloom") {
      def run(w: StreamReplay, run: Run, n: Int)(implicit s: SparkSession) = {
        implicit val sq = s.sqlContext
        implicit val e = Encoders.product[UserBehavior]
        val latest = mutable.Map.empty[Long, Long]
        val mem = MemoryStream[UserBehavior]
        val q = Streams.uvBloom(mem.toDS(), delay = Delay).writeStream.outputMode("update")
          .foreachBatch(sink[org.apache.spark.sql.Row](b =>
            b.collect().foreach(r => latest(r.getLong(0)) = r.getLong(1))))
          .queryName(name).option("checkpointLocation", w.checkpoint()).start()
        val rows = w.drive(run, name, mem, q, w.in.ub.batches.take(n))
        (rows, latest.toSeq.map { case (we, uv) => s"$we|$uv" }.sorted)
      }
      def expected(w: StreamReplay, s: SparkSession) = {
        import s.implicits._
        Streams.uvBloom(w.in.ub.onTime.toDS()).collect()
          .map(r => s"${r.getLong(0)}|${r.getLong(1)}").toSeq.sorted
      }
      def lateRows(in: Inputs) = in.ub.late.size
    },
    new Job("ad_blacklist") {
      private val flush = AdClickEvent(-1L, -1L, "flush", "flush", FlushTs)
      private def line(o: AdBlacklist.AdOut) =
        s"${o.channel}|${o.click.map(c => s"${c.userId},${c.adId},${c.timestamp}")}|${o.warning}"
      private def keep(o: AdBlacklist.AdOut) = !o.click.exists(_.userId < 0)
      def run(w: StreamReplay, run: Run, n: Int)(implicit s: SparkSession) = {
        implicit val sq = s.sqlContext
        implicit val e = Encoders.product[AdClickEvent]
        val got = mutable.ArrayBuffer.empty[String]
        val mem = MemoryStream[AdClickEvent]
        val q = AdBlacklist.streaming(timed(mem.toDS()), AdThreshold).writeStream
          .outputMode("append")
          .foreachBatch(sink[AdBlacklist.AdOut](b => got ++= b.collect().filter(keep).map(line)))
          .queryName(name).option("checkpointLocation", w.checkpoint()).start()
        val rows = w.drive(run, name, mem, q, w.in.ad.batches.take(n) :+ Seq(flush))
        (rows, got.toSeq.sorted)
      }
      def expected(w: StreamReplay, s: SparkSession) = {
        import s.implicits._
        AdBlacklist.batch(w.in.ad.onTime.toDS(), AdThreshold).collect()
          .filter(keep).map(line).toSeq.sorted
      }
      def lateRows(in: Inputs) = in.ad.late.size
    },
    new Job("login_fail") {
      private val flush = LoginEvent(-1L, "0.0.0.0", "success", FlushTs)
      def run(w: StreamReplay, run: Run, n: Int)(implicit s: SparkSession) = {
        implicit val sq = s.sqlContext
        implicit val e = Encoders.product[LoginEvent]
        val got = mutable.ArrayBuffer.empty[String]
        val mem = MemoryStream[LoginEvent]
        val q = LoginFailDetector.timerStreaming(timed(mem.toDS())).writeStream
          .outputMode("append")
          .foreachBatch(sink[LoginFailWarning](b => got ++= b.collect().map(_.toString)))
          .queryName(name).option("checkpointLocation", w.checkpoint()).start()
        val rows = w.drive(run, name, mem, q, w.in.login.batches.take(n) :+ Seq(flush))
        (rows, got.toSeq.sorted)
      }
      def expected(w: StreamReplay, s: SparkSession) = {
        import s.implicits._
        LoginFailDetector.timerBatch(w.in.login.onTime.toDS()).collect().map(_.toString).toSeq.sorted
      }
      def lateRows(in: Inputs) = in.login.late.size
    },
    new Job("order_pay") {
      private val flush = OrderEvent(-1L, "create", "", FlushTs)
      private def keep(o: Out[OrderResult]) = o.value.orderId >= 0
      def run(w: StreamReplay, run: Run, n: Int)(implicit s: SparkSession) = {
        implicit val sq = s.sqlContext
        implicit val e = Encoders.product[OrderEvent]
        val got = mutable.ArrayBuffer.empty[String]
        val mem = MemoryStream[OrderEvent]
        val q = OrderPayDetector.streaming(timed(mem.toDS())).writeStream
          .outputMode("append")
          .foreachBatch(sink[Out[OrderResult]](b =>
            got ++= b.collect().filter(keep).map(_.toString)))
          .queryName(name).option("checkpointLocation", w.checkpoint()).start()
        val rows = w.drive(run, name, mem, q, w.in.order.batches.take(n) :+ Seq(flush))
        (rows, got.toSeq.sorted)
      }
      def expected(w: StreamReplay, s: SparkSession) = {
        import s.implicits._
        OrderPayDetector.batch(w.in.order.onTime.toDS()).collect()
          .filter(keep).map(_.toString).toSeq.sorted
      }
      def lateRows(in: Inputs) = in.order.late.size
    },
    new Job("tx_match") {
      private val flush = TxIn("pay", -1L, "~flush", "", FlushTs)
      private def keep(o: TxMatcher.TxOut) = !o.toString.contains("~flush")
      private def split(ds: Dataset[TxIn])(implicit s: SparkSession) = {
        import s.implicits._
        (ds.filter(_.kind == "pay").map(t => OrderEvent(t.orderId, "pay", t.txId, t.timestamp)),
          ds.filter(_.kind == "receipt").map(t => ReceiptEvent(t.txId, t.payChannel, t.timestamp)))
      }
      def run(w: StreamReplay, run: Run, n: Int)(implicit s: SparkSession) = {
        implicit val sq = s.sqlContext
        implicit val e = Encoders.product[TxIn]
        val got = mutable.ArrayBuffer.empty[String]
        val mem = MemoryStream[TxIn]
        val (pays, receipts) = split(mem.toDS())
        val q = TxMatcher.coMatchStreaming(pays, receipts, watermarkDelay = Delay).writeStream
          .outputMode("append")
          .foreachBatch(sink[TxMatcher.TxOut](b =>
            got ++= b.collect().filter(keep).map(_.toString)))
          .queryName(name).option("checkpointLocation", w.checkpoint()).start()
        val rows = w.drive(run, name, mem, q, w.in.tx.batches.take(n) :+ Seq(flush))
        (rows, got.toSeq.sorted)
      }
      def expected(w: StreamReplay, s: SparkSession) = {
        import s.implicits._
        val (pays, receipts) = split(w.in.tx.onTime.toDS())(s)
        TxMatcher.coMatchBatch(pays, receipts).collect().filter(keep).map(_.toString).toSeq.sorted
      }
      def lateRows(in: Inputs) = in.tx.late.size
    })
}

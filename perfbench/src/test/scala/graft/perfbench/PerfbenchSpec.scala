package graft.perfbench

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

class PerfbenchSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val work = Files.createTempDirectory("perfbench-spec")
  private lazy val spark: SparkSession = Main.session(work, "perfbench-spec", nCores = 2)

  override def afterAll(): Unit = Main.stop(spark)

  test("the tail is the highest percentile with at least 10 samples beyond it") {
    val t = Stats.tail((1 to 100).map(_.toDouble))
    assert(t.value == 90.0 && t.percentile == 90.0 && t.beyond == 10 && t.n == 100)
    val u = Stats.tail(scala.util.Random.shuffle((1 to 48).map(_.toDouble)))
    assert(u.value == 38.0 && u.beyond == 10 && math.abs(u.percentile - 100.0 * 38 / 48) < 1e-9)
    val v = Stats.tail(Seq(3.0, 1.0, 2.0))
    assert(v.value == 3.0 && v.beyond == 0 && v.percentile == 100.0)
    assert(Stats.tail((1 to 11).map(_.toDouble)).value == 1.0)
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
  }

  test("the same seed gives the same input digest, another seed another one") {
    val a = StreamReplay.Inputs.generate(11L).digest
    assert(a == StreamReplay.Inputs.generate(11L).digest)
    assert(a != StreamReplay.Inputs.generate(12L).digest)
    val dir = work.resolve("tables").toString
    val t1 = CatalogReads.writeTables(spark, dir, 11L)
    assert(t1 == CatalogReads.writeTables(spark, dir, 11L))
    assert(t1 != CatalogReads.writeTables(spark, dir, 12L))
    val (_, _, i1, _) = IndexChurn.Inputs.write(spark, work.resolve("ix1"), 11L)
    val (_, _, i2, _) = IndexChurn.Inputs.write(spark, work.resolve("ix2"), 11L)
    val (_, _, i3, _) = IndexChurn.Inputs.write(spark, work.resolve("ix3"), 12L)
    assert(i1 == i2 && i1 != i3)
  }

  test("late rows land in a batch whose watermark has passed them") {
    val in = StreamReplay.Inputs.generate(5L)
    val b = in.login
    assert(b.late.nonEmpty && b.batches.map(_.size).sum == b.rows.size)
    val batchOf = b.batches.zipWithIndex.flatMap { case (xs, k) => xs.map(_ -> k) }.toMap
    val maxTs = b.batches.map(_.map(_.timestamp).max)
    b.late.foreach { i =>
      val k = batchOf(b.rows(i))
      assert(b.rows(i).timestamp < maxTs.take(k).max - StreamReplay.DelaySec)
    }
  }

  test("the job probe charges jobs of concurrent Overlap tasks to the op that launched them") {
    val spans = new Spans
    val probe = new JobProbe(spans)
    spark.sparkContext.addSparkListener(probe)
    val run = new Run("spec", work)
    run.jobProbe = Some(probe)
    implicit val s: SparkSession = spark
    def job(): Unit = { spark.range(1000).selectExpr("sum(id)").collect(); () }
    val latch = new java.util.concurrent.CountDownLatch(2)
    def overlapped(): Unit = graft.sources.Overlap.run(
      "a" -> (() => { latch.countDown(); latch.await(); job() }),
      "b" -> (() => { latch.countDown(); latch.await(); job() }))
    // one job() may run more than one Spark job (AQE), so count it first
    run.op("read", "unit")(_ => job())
    run.op("write", "first")(_ => overlapped())
    run.op("write", "second")(_ => { job(); job(); job() })
    probe.settle()
    spark.sparkContext.removeSparkListener(probe)
    val Seq(unit, first, second) = run.ops.map(_.id).toSeq
    val k = probe.jobsOf(unit)
    assert(k >= 1)
    assert(probe.jobsOf(first) == 2 * k)
    assert(probe.jobsOf(second) == 3 * k)
    assert(spans.all.count(sp => sp.name == "spark.job" && sp.op == first) == 2 * k)
  }

  test("the row digest ignores row order and sees every column") {
    import org.apache.spark.sql.Row
    val a = RowHash.of(Seq("x", "y"), Array(Row(1L, 0.5), Row(2L, null)))
    val b = RowHash.of(Seq("x", "y"), Array(Row(2L, null), Row(1L, 0.5)))
    val c = RowHash.of(Seq("x", "y"), Array(Row(2L, null), Row(1L, 0.25)))
    assert(a == b && a != c)
    assert(a.hash == RowHash.of(Seq("y", "x"), Array(Row(0.5, 1L), Row(null, 2L))).hash)
    // the same rows through perfbench/oracle.py digest(), which hashes DuckDB results
    assert(a == RowHash.Digest(2, "53bfe60e9a2e78d8"))
    val t = RowHash.of(Seq("s", "t", "d"), Array(Row("a",
      java.time.LocalDateTime.of(2024, 1, 1, 0, 0, 11, 172425000), java.time.LocalDate.of(1995, 1, 2))))
    assert(t == RowHash.Digest(1, "711d622b8b59f742"))
  }
}

package graft.perfbench

import java.nio.file.{Files, Path}
import java.time.LocalDateTime

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

import graft.queries.Catalog

/** `catalog_reads`: the pinned headline catalog queries over seeded
  * TPC-H-shaped tables, in a seed-shuffled order per pass, each result
  * fully collected and digested. It loads `queries` planning and
  * execution, `functions` and the `sources.Tables` parquet scans, with no
  * index writes and no streaming state.
  */
final class CatalogReads(seed: Long, queriesFile: Path) extends Workload {
  import CatalogReads._

  val names: Seq[String] = Files.readAllLines(queriesFile).asScala.toSeq
    .map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
  require(names.nonEmpty, s"no queries listed in $queriesFile")

  var spark: SparkSession = _
  private var dataDir = ""
  private var digestHex = ""
  private var passes = 0
  private val starts = mutable.ArrayBuffer.empty[Double]
  def sessionStartS: Seq[Double] = starts.toSeq
  private val reference = mutable.LinkedHashMap.empty[String, RowHash.Digest]
  private val phases = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  private var tracedReads = 0

  def inputDigest: String = digestHex

  def setup(run: Run): Unit = {
    if (spark != null) Main.stop(spark)
    val t0 = System.nanoTime()
    spark = Main.session(run.work, "perfbench-catalog")
    starts += (System.nanoTime() - t0) / 1e9
    dataDir = run.dir("catalog-data").toString
    digestHex = writeTables(spark, dataDir, seed)
  }

  /** One untimed aggregate over every table, so the first measured
    * queries do not also pay for warming the scan, shuffle and aggregate
    * code every query shares. The queries' own plans warm within the
    * measured passes.
    */
  def warmup(run: Run): Unit = CatalogReads.tables.foreach { t =>
    spark.read.parquet(s"$dataDir/$t.parquet").groupBy().count().collect()
  }

  def unit(run: Run): Unit = pass(run)
  def minUnits: Int = MinPasses

  /** Every pinned query once, in an order drawn from the seed and the
    * pass number. The first result of a query is the reference every
    * later result must match (and that the DuckDB oracle checks).
    */
  private def pass(run: Run): Unit = {
    implicit val s: SparkSession = spark
    val order = new scala.util.Random(seed * 1000003L + passes).shuffle(names)
    passes += 1
    order.foreach { name =>
      var cols: Seq[String] = Nil
      var out: Array[Row] = Array.empty
      var phaseS = Map.empty[String, Double]
      val done = run.op("read", name) { opId =>
        val t0 = System.nanoTime()
        val df = Catalog.queries(name)(spark, dataDir)
        val t1 = System.nanoTime()
        out = df.collect()
        val t2 = System.nanoTime()
        cols = df.columns.toSeq
        val tr = df.queryExecution.tracker.phases
        def ph(p: String) = tr.get(p).map(_.durationMs / 1e3).getOrElse(0.0)
        val lazyPlan = ph("optimization") + ph("planning")
        phaseS = Map("queries.build_s" -> (t1 - t0) / 1e9,
          "queries.analysis_s" -> ph("analysis"),
          "queries.optimization_s" -> ph("optimization"),
          "queries.planning_s" -> ph("planning"),
          "queries.exec_s" -> math.max(0.0, (t2 - t1) / 1e9 - lazyPlan))
        if (run.phase == "traced") {
          val base = System.currentTimeMillis() - (System.nanoTime() - t0) / 1e6
          def span(name: String, a: Long, b: Long) = run.spans.add(Span(s"$opId.$name", opId,
            opId, name, base + (a - t0) / 1e6, base + (b - t0) / 1e6))
          span("build", t0, t1)
          span("plan", t1, t1 + (lazyPlan * 1e9).toLong)
          span("exec", t1 + (lazyPlan * 1e9).toLong, t2)
        }
        Rows(out.length.toLong)
      }
      val id = run.ops.last.id
      if (done.nonEmpty) {
        val d = RowHash.of(cols, out)
        reference.get(name) match {
          case None => reference(name) = d
          case Some(ref) if ref != d =>
            run.fail(id, s"result $d differs from the first result $ref")
          case _ => ()
        }
        if (run.phase == "traced") {
          tracedReads += 1
          phaseS.foreach { case (k, v) => phases(k) += v }
        }
      }
    }
  }

  def verify(run: Run): Unit = ()

  override def layers(run: Run): Seq[(String, Double, String)] =
    Seq("queries.build_s", "queries.analysis_s", "queries.optimization_s",
      "queries.planning_s", "queries.exec_s")
      .map(k => (k, phases(k) / math.max(1, tracedReads), "s")) ++
      Seq(("session.start_s", Stats.median(sessionStartS), "s"))

  /** What `oracle.py` needs to check the reference results in DuckDB. */
  def oracleInputs: Map[String, Any] = Map(
    "data_dir" -> dataDir,
    "catalog_digests" -> reference.map { case (k, d) =>
      k -> Map("rows" -> d.rows, "hash" -> d.hash) },
    "oracle_sql" -> names.flatMap(n => Catalog.oracleSql.get(n).map(n -> _)).toMap)

  def close(): Unit = Main.stop(spark)
}

object CatalogReads {
  val tables = Seq("region", "nation", "customer", "supplier", "part", "orders", "lineitem",
    "events", "documents", "embeddings")

  /** Passes every run makes, whatever `--seconds` says: the first runs
    * each query on a cold plan cache, the second on a warm one, so every
    * run has the same mix of both.
    */
  val MinPasses = 2

  /** Scale factor of the generated tables (sf 1 = 6M lineitem rows). */
  val Sf = 0.005

  private val words = Vector("spark", "window", "merge", "table", "column", "vector",
    "stream", "value", "data", "small", "join", "filter", "big", "group", "hash",
    "customer", "sort", "order", "slow", "line", "part", "fast", "row", "the", "agg",
    "key", "query", "a", "scan", "batch")
  private val segments = Vector("MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE")
  private val adjectives = Vector("large", "hot", "blue", "old", "cold", "small", "red", "shiny")
  private val nouns = Vector("ring", "bolt", "plate", "gear", "widget", "nut", "pipe", "valve")
  private val types = Vector("LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO")
  private val priorities = Vector("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  private val eventTypes = Vector("signup", "click", "error", "view", "purchase")
  private val langs = Vector("en", "en", "en", "zh", "de", "es", "fr")

  private def n(base: Int): Int = math.max(1, (base * Sf).round.toInt)

  private def day(r: java.util.SplittableRandom, from: LocalDateTime, days: Int) =
    from.plusDays(r.nextInt(days).toLong)

  /** Writes the ten tables the catalog reads, shaped like the repository's
    * TPC-H-ish test data (same names, types and value domains), and
    * returns the digest of every generated row.
    */
  def writeTables(s: SparkSession, dir: String, seed: Long): String = {
    val digest = new Digest
    def write(name: String, schema: StructType, rows: Seq[Row]): Unit = {
      rows.foreach(r => digest.add(name + r.mkString("|")))
      s.createDataFrame(rows.asJava, schema).coalesce(1)
        .write.mode("overwrite").parquet(s"$dir/$name.parquet")
    }
    def st(fields: (String, DataType)*) =
      StructType(fields.map { case (k, t) => StructField(k, t, nullable = true) })
    val I = IntegerType; val L = LongType; val D = DoubleType; val S = StringType
    val T = TimestampNTZType

    write("region", st("r_regionkey" -> I, "r_name" -> S),
      Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST").zipWithIndex
        .map { case (nm, i) => Row(i, nm) })
    write("nation", st("n_nationkey" -> I, "n_name" -> S, "n_regionkey" -> I),
      (0 until 25).map(i => Row(i, s"NATION_$i", i % 5)))

    val nCust = n(150000); val nSupp = n(10000); val nPart = n(200000)
    val nOrd = n(1500000); val nLine = n(6000000); val nEv = n(1000000)
    val nDoc = n(50000); val nEmb = n(20000); val nUsers = n(15000)

    var r = Gen.rng(seed, "customer")
    write("customer", st("c_custkey" -> L, "c_name" -> S, "c_nationkey" -> I,
      "c_acctbal" -> D, "c_mktsegment" -> S),
      (0 until nCust).map(i => Row(i.toLong, f"Customer#$i%09d", r.nextInt(25),
        Gen.round2(-999.99 + r.nextDouble() * 10999.98), Gen.pick(r, segments))))
    r = Gen.rng(seed, "supplier")
    write("supplier", st("s_suppkey" -> L, "s_name" -> S, "s_nationkey" -> I, "s_acctbal" -> D),
      (0 until nSupp).map(i => Row(i.toLong, f"Supplier#$i%09d", r.nextInt(25),
        Gen.round2(-999.99 + r.nextDouble() * 10999.98))))
    r = Gen.rng(seed, "part")
    write("part", st("p_partkey" -> L, "p_name" -> S, "p_brand" -> S, "p_type" -> S,
      "p_size" -> I, "p_retailprice" -> D),
      (0 until nPart).map(i => Row(i.toLong,
        Gen.pick(r, adjectives) + " " + Gen.pick(r, nouns), s"Brand#${1 + r.nextInt(25)}",
        Gen.pick(r, types), 1 + r.nextInt(50), Gen.round2(900.0 + (i % 1000) / 10.0))))
    r = Gen.rng(seed, "orders")
    val orderStart = LocalDateTime.of(1995, 1, 1, 0, 0)
    write("orders", st("o_orderkey" -> L, "o_custkey" -> L, "o_orderstatus" -> S,
      "o_totalprice" -> D, "o_orderdate" -> T, "o_orderpriority" -> S),
      (0 until nOrd).map(i => Row(i.toLong, r.nextInt(nCust).toLong,
        Gen.pick(r, Vector("O", "F", "P")), Gen.round2(1000.0 + r.nextDouble() * 499000.0),
        day(r, orderStart, 2404), Gen.pick(r, priorities))))
    r = Gen.rng(seed, "lineitem")
    val shipStart = LocalDateTime.of(1995, 1, 2, 0, 0)
    write("lineitem", st("l_orderkey" -> L, "l_partkey" -> L, "l_suppkey" -> L,
      "l_linenumber" -> I, "l_quantity" -> D, "l_extendedprice" -> D, "l_discount" -> D,
      "l_tax" -> D, "l_returnflag" -> S, "l_linestatus" -> S, "l_shipdate" -> T),
      (0 until nLine).map(_ => Row(r.nextInt(nOrd).toLong, r.nextInt(nPart).toLong,
        r.nextInt(nSupp).toLong, 1 + r.nextInt(7), (1 + r.nextInt(50)).toDouble,
        Gen.round2(900.0 + r.nextDouble() * 104100.0), r.nextInt(11) / 100.0,
        r.nextInt(9) / 100.0, Gen.pick(r, Vector("A", "N", "R")), Gen.pick(r, Vector("O", "F")),
        day(r, shipStart, 2498))))
    r = Gen.rng(seed, "events")
    val evStart = LocalDateTime.of(2024, 1, 1, 0, 0)
    val micros = Array.fill(nEv)(r.nextLong(30L * 86400L * 1000000L)).sorted
    write("events", st("event_id" -> L, "ts" -> T, "user_id" -> L, "event_type" -> S,
      "value" -> D, "props" -> S),
      (0 until nEv).map(i => Row(i.toLong, evStart.plusNanos(micros(i) * 1000L),
        r.nextInt(nUsers).toLong, Gen.pick(r, eventTypes),
        Gen.round2(-80.0 * math.log(math.max(r.nextDouble(), 1e-9))),
        s"""{"k": ${r.nextInt(100)}}""")))
    r = Gen.rng(seed, "documents")
    val texts = mutable.ArrayBuffer.empty[String]
    write("documents", st("doc_id" -> L, "text" -> S, "lang" -> S, "source" -> S,
      "n_chars" -> L),
      (0 until nDoc).map { i =>
        val text =
          if (i > 0 && r.nextInt(20) == 0) texts(r.nextInt(i)) + " dup"
          else Seq.fill(8 + r.nextInt(93))(Gen.pick(r, words)).mkString(" ")
        texts += text
        Row(i.toLong, text, Gen.pick(r, langs), s"src${i % 20}", text.length.toLong)
      })
    r = Gen.rng(seed, "embeddings")
    write("embeddings", st("vec_id" -> L, "embedding" -> ArrayType(FloatType, containsNull = true),
      "label" -> I),
      (0 until nEmb).map(i => Row(i.toLong, Gen.unitVector(r, 64).toSeq, r.nextInt(10))))
    digest.hex
  }
}

package graft.perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.queries.{SearchOps, TextOps, VectorOps}
import graft.sources.{IndexMaintenance, IndexManifest}

/** `index_churn`: the postings, LSH and BQ+SQ8 stored indexes over seeded
  * docs and vectors, then cycles of append -> forget -> a batch of
  * searches, with compact and vacuum every few cycles. It uses `queries`
  * and `sources` the other way round from `catalog_reads`: manifest
  * commits, overlapped component writes and epoch listing, with writes
  * beside reads.
  */
final class IndexChurn(seed: Long) extends Workload {
  import IndexChurn._

  var spark: SparkSession = _
  private val starts = mutable.ArrayBuffer.empty[Double]
  def sessionStartS: Seq[Double] = starts.toSeq
  private var digestHex = ""
  private var roots: Roots = _
  private var docs: DataFrame = _
  private var vecs: DataFrame = _
  private var docText: Map[Long, String] = Map.empty
  private var liveDocs = mutable.LinkedHashSet.empty[Long]
  private var liveVecs = mutable.LinkedHashSet.empty[Long]
  private var nextDoc = 0L
  private var nextVec = 0L
  private var cycle = 0
  private var rng: java.util.SplittableRandom = _
  private var setupRound = 0
  private val buildS = mutable.Map.empty[String, Double]
  private val filesAdded = new java.util.concurrent.atomic.AtomicLong

  def inputDigest: String = digestHex
  override def setupParts: Map[String, Double] = buildS.toMap

  /** Session start, and docs and vectors generated and staged as parquet. */
  def setup(run: Run): Unit = {
    if (spark != null) Main.stop(spark)
    val t0 = System.nanoTime()
    spark = Main.session(run.work, "perfbench-index")
    starts += (System.nanoTime() - t0) / 1e9
    setupRound += 1
    val stage = run.dir(s"index-input-$setupRound")
    val tg = System.nanoTime()
    val (d, v, digest, text) = Inputs.write(spark, stage, seed)
    buildS("inputs") = (System.nanoTime() - tg) / 1e9
    digestHex = digest
    docText = text
    docs = d
    vecs = v
  }

  /** The three index families built from the base rows: once, since one
    * cold build takes longer than the other set-up parts together.
    */
  override def setupOnce(run: Run): Double = {
    val t0 = System.nanoTime()
    val base = run.dir("index-roots")
    roots = Roots(base.resolve("postings").toString, base.resolve("lsh").toString,
      base.resolve("bq").toString, base.resolve("sq8").toString)
    val baseDocs = docs.filter(col("doc_id") < BaseDocs)
    val baseVecs = vecs.filter(col("vec_id") < BaseVecs)
    def timed(k: String)(f: => Unit): Unit = {
      val t = System.nanoTime(); f; buildS(k) = (System.nanoTime() - t) / 1e9
    }
    timed("postings")(SearchOps.writePostingsIndex(baseDocs, roots.postings))
    timed("lsh")(TextOps.writeLshIndex(baseDocs, roots.lsh))
    timed("bq_sq8") {
      VectorOps.writeBqIndex(baseVecs, roots.bq)
      VectorOps.writeSq8Index(baseVecs, roots.sq8)
    }
    liveDocs = mutable.LinkedHashSet(0L until BaseDocs: _*)
    liveVecs = mutable.LinkedHashSet(0L until BaseVecs: _*)
    nextDoc = BaseDocs
    nextVec = BaseVecs
    cycle = 0
    rng = Gen.rng(seed, "churn")
    (System.nanoTime() - t0) / 1e9
  }

  /** No separate warm-up: the set-up build warms the write path, and the
    * churn paths warm within the measured cycles, which every run makes the
    * same number of.
    */
  def warmup(run: Run): Unit = ()

  def unit(run: Run): Unit = churnCycle(run)
  def minUnits: Int = MinCycles

  private def ids(name: String, xs: Seq[Long]): DataFrame = {
    val s = spark
    import s.implicits._
    xs.toDF(name)
  }

  private def writeOp(run: Run, name: String)(f: => Unit): Unit = {
    implicit val s: SparkSession = spark
    val before = if (run.phase == "traced") files() else Set.empty[Path]
    run.op("write", name)(_ => f)
    if (run.phase == "traced") filesAdded.addAndGet((files() -- before).size.toLong)
  }

  private def files(): Set[Path] = roots.all.flatMap { case (_, r) =>
    val p = java.nio.file.Paths.get(r)
    if (!Files.exists(p)) Nil
    else Files.walk(p).iterator().asScala.filter(Files.isRegularFile(_)).toList
  }.toSet

  private def churnCycle(run: Run): Unit = {
    implicit val s: SparkSession = spark
    cycle += 1
    val newDocs = docs.filter(col("doc_id") >= nextDoc && col("doc_id") < nextDoc + AppendDocs)
    val newVecs = vecs.filter(col("vec_id") >= nextVec && col("vec_id") < nextVec + AppendVecs)
    writeOp(run, "postings.append")(SearchOps.appendPostingsIndex(newDocs, roots.postings))
    writeOp(run, "lsh.append")(TextOps.appendLshIndex(newDocs, roots.lsh))
    writeOp(run, "bq_sq8.append") {
      VectorOps.appendBqIndex(newVecs, roots.bq)
      VectorOps.appendSq8Index(newVecs, roots.sq8)
    }
    (nextDoc until nextDoc + AppendDocs).foreach(liveDocs += _)
    (nextVec until nextVec + AppendVecs).foreach(liveVecs += _)
    nextDoc += AppendDocs
    nextVec += AppendVecs

    val goneDocs = pickLive(liveDocs, ForgetDocs)
    val goneVecs = pickLive(liveVecs, ForgetVecs)
    writeOp(run, "postings.forget")(SearchOps.deleteFromPostingsIndex(ids("doc_id", goneDocs), roots.postings))
    writeOp(run, "lsh.forget")(TextOps.deleteFromLshIndex(ids("doc_id", goneDocs), roots.lsh))
    writeOp(run, "bq_sq8.forget") {
      VectorOps.deleteFromBqIndex(ids("vec_id", goneVecs), roots.bq)
      VectorOps.deleteFromSq8Index(ids("vec_id", goneVecs), roots.sq8)
    }
    liveDocs --= goneDocs
    liveVecs --= goneVecs

    searches(run, roots, SearchesPerFamily)

    if (cycle % CompactEvery == 0) {
      writeOp(run, "postings.compact")(SearchOps.compactPostingsIndex(spark, roots.postings))
      writeOp(run, "lsh.compact")(TextOps.compactLshIndex(spark, roots.lsh))
      writeOp(run, "bq_sq8.compact") {
        VectorOps.compactBqIndex(spark, roots.bq)
        VectorOps.compactSq8Index(spark, roots.sq8)
      }
      writeOp(run, "sources.vacuum") {
        IndexManifest.vacuum(roots.postings, IndexManifest.Postings)
        IndexManifest.vacuum(roots.lsh, IndexManifest.Lsh)
        IndexManifest.vacuum(roots.bq, IndexManifest.Bq)
        IndexManifest.vacuum(roots.sq8, IndexManifest.Sq8)
      }
      run.op("read", "sources.fsck") { _ =>
        val bad = IndexMaintenance.fsck(spark, roots.all).collect()
          .filter(r => r.getAs[String]("severity") == "error")
        if (bad.nonEmpty) throw new IllegalStateException("fsck errors: " + bad.mkString("; "))
        Rows(bad.length.toLong)
      }
    }
  }

  private def pickLive(live: mutable.LinkedHashSet[Long], n: Int): Seq[Long] = {
    val a = live.toArray
    (0 until n).map(_ => a(rng.nextInt(a.length))).distinct
  }

  /** The search batch: BM25 term queries on postings, near-dup screens of
    * copies of live docs on LSH, and k-NN cascades on BQ+SQ8. Returns each
    * result as sorted lines, per family.
    */
  private def searches(run: Run, at: Roots, perFamily: Int,
      requests: Option[Requests] = None): Map[String, Seq[String]] = {
    implicit val s: SparkSession = spark
    import s.implicits._
    val req = requests.getOrElse(newRequests(perFamily))
    val out = mutable.Map.empty[String, Seq[String]]
    def read(name: String)(df: => DataFrame): Unit =
      run.op("read", name) { _ =>
        val rows = df.collect()
        out(name) = out.getOrElse(name, Nil) ++ rows.map(_.mkString("|")).sorted
        Rows(rows.length.toLong)
      }
    req.terms.foreach(t => read("postings.search")(SearchOps.bm25SearchFromIndex(spark, at.postings, t, 10)))
    req.probes.foreach { p =>
      read("lsh.search")(TextOps.deltaNearDupFromIndex(p.toDF("doc_id", "text"), at.lsh))
    }
    req.queries.foreach { q =>
      read("bq_sq8.search")(VectorOps.searchCascadeIndex(
        q.toDF("query_id", "embedding"), at.bq, at.sq8, vecs, k = 10))
    }
    lastRequests = req
    out.toMap
  }

  private var lastRequests: Requests = _

  private def newRequests(n: Int): Requests = {
    val live = liveDocs.toArray
    Requests(
      Seq.fill(n)(Seq.fill(2 + rng.nextInt(2))(Inputs.word(Inputs.vocab.draw(rng))).distinct),
      Seq.fill(n)((0 until ProbeDocs).map { j =>
        val src = docText(live(rng.nextInt(live.length)))
        (ProbeIdBase + cycle * 1000L + j, Inputs.perturb(src, rng))
      }),
      Seq.fill(n)((0 until QueryVecs).map(j => (j.toLong, Gen.unitVector(rng, Dim)))))
  }

  /** The final searches must equal the same searches over indexes built
    * from scratch on the live docs and vectors. The cascade's SQ8
    * quantizer is trained at build time, so a rebuild may rerank
    * differently: its final results are checked to hold k live ids per
    * query, and the BQ screen with an exact rerank, which has no trained
    * state, is compared with a rebuilt BQ index instead.
    */
  def verify(run: Run): Unit = {
    implicit val s: SparkSession = spark
    import s.implicits._
    val fresh = run.dir("index-fresh")
    val f = Roots(fresh.resolve("postings").toString, fresh.resolve("lsh").toString,
      fresh.resolve("bq").toString, fresh.resolve("sq8").toString)
    val liveD = docs.filter(col("doc_id").isin(liveDocs.toSeq: _*))
    val liveV = vecs.filter(col("vec_id").isin(liveVecs.toSeq: _*))
    SearchOps.writePostingsIndex(liveD, f.postings)
    TextOps.writeLshIndex(liveD, f.lsh)
    VectorOps.writeBqIndex(liveV, f.bq)
    val req = newRequests(1)
    val churned = searches(run, roots, 1, Some(req))
    val rebuilt = searches(run, f, 1, Some(req.copy(queries = Nil)))
    val checks = run.ops.filter(_.phase == "verify").takeRight(3)
    Seq("postings.search", "lsh.search").foreach { fam =>
      if (churned.get(fam) != rebuilt.get(fam))
        checks.find(_.name == fam).foreach(o => run.fail(o.id,
          s"$fam after churn differs from a rebuild: ${churned.get(fam).map(_.take(3))} vs " +
            s"${rebuilt.get(fam).map(_.take(3))}"))
    }
    val cascade = churned.getOrElse("bq_sq8.search", Nil)
    val dead = cascade.map(_.split('|')(1).toLong).filterNot(liveVecs.contains)
    val bqOp = checks.find(_.name == "bq_sq8.search")
    if (dead.nonEmpty || cascade.size != QueryVecs * 10)
      bqOp.foreach(o => run.fail(o.id, s"cascade served ${cascade.size} rows, forgotten ids ${dead.take(5)}"))
    val q = req.queries.head.toDF("query_id", "embedding")
    val bqChurned = VectorOps.searchBqIndex(q, roots.bq, vecs, k = 10).collect().map(_.mkString("|")).sorted
    val bqFresh = VectorOps.searchBqIndex(q, f.bq, vecs, k = 10).collect().map(_.mkString("|")).sorted
    if (!bqChurned.sameElements(bqFresh))
      bqOp.foreach(o => run.fail(o.id, "BQ screen after churn differs from a rebuild"))
  }

  private def treeBytes(): (Long, Long) = {
    val fs = files()
    (fs.size.toLong, fs.toSeq.map(Files.size).sum)
  }

  /** Bytes under the index roots over the bytes of live user data (the
    * live docs' UTF-8 text plus 4 bytes per live vector dimension).
    */
  private def spaceAmp(): Double = {
    val live = liveDocs.toSeq.map(d => docText(d).getBytes("UTF-8").length.toLong).sum +
      liveVecs.size.toLong * Dim * 4
    treeBytes()._2.toDouble / live
  }

  override def extra(run: Run): Seq[(String, Double, String)] =
    Seq(("space_amp", spaceAmp(), "ratio"))

  override def layers(run: Run): Seq[(String, Double, String)] = {
    val ops = run.phaseOps("traced")
    def mean(name: String) = {
      val t = ops.filter(_.name == name).map(_.seconds)
      if (t.isEmpty) 0.0 else t.sum / t.size
    }
    val fam = for (f <- Seq("postings", "lsh", "bq_sq8");
                   o <- Seq("append", "forget", "compact", "search"))
      yield (s"queries.$f.${o}_s", mean(s"$f.$o"), "s")
    val builds = Seq("postings", "lsh", "bq_sq8").map(f => (s"queries.$f.build_s", buildS(f), "s"))
    val searchOps = ops.filter(_.kind == "read")
    val scanned = searchOps.flatMap(o => run.jobProbe.flatMap(_.opTotals(o.id))).map(_.inputRows.get).sum
    val returned = searchOps.map(_.rows).sum
    val (nFiles, nBytes) = treeBytes()
    fam ++ builds ++ Seq(
      ("sources.vacuum_s", mean("sources.vacuum"), "s"),
      ("sources.fsck_s", mean("sources.fsck"), "s"),
      ("sources.index_files", nFiles.toDouble, "count"),
      ("sources.index_bytes", nBytes.toDouble, "bytes"),
      ("spark.input_rows_per_read", scanned.toDouble / math.max(1L, returned), "ratio"),
      ("spark.output_files", filesAdded.get.toDouble, "count"),
      ("session.start_s", Stats.median(sessionStartS), "s"))
  }

  def close(): Unit = Main.stop(spark)
}

object IndexChurn {
  final case class Roots(postings: String, lsh: String, bq: String, sq8: String) {
    def all: Seq[(String, String)] =
      Seq("postings" -> postings, "lsh" -> lsh, "bq" -> bq, "sq8" -> sq8)
  }

  /** One search batch: BM25 term sets, LSH probe docs, cascade query vectors. */
  final case class Requests(terms: Seq[Seq[String]], probes: Seq[Seq[(Long, String)]],
      queries: Seq[Seq[(Long, Array[Float])]])

  val BaseDocs = 600L
  val BaseVecs = 600L
  val AppendDocs = 40
  val AppendVecs = 40
  val ForgetDocs = 15
  val ForgetVecs = 15
  val MaxCycles = 12
  val MinCycles = 2
  val CompactEvery = 2
  val SearchesPerFamily = 1
  val ProbeDocs = 4
  val QueryVecs = 4
  val Dim = 64
  val ProbeIdBase = 10000000L
  /** Share of generated docs that are near-duplicates of an earlier doc. */
  val NearDupShare = 0.15

  object Inputs {
    val vocab = new Zipf(4000, 1.0)
    def word(i: Int): String = s"w$i"

    /** A copy of `text` with about one token in ten replaced. */
    def perturb(text: String, r: java.util.SplittableRandom): String =
      text.split(' ').map(t => if (r.nextInt(10) == 0) word(vocab.draw(r)) else t).mkString(" ")

    /** Generates and stages every doc and vector the run can use (the base
      * set and all appends), returning them as parquet-backed frames.
      */
    def write(s: SparkSession, dir: Path, seed: Long)
        : (DataFrame, DataFrame, String, Map[Long, String]) = {
      import s.implicits._
      val d = new Digest
      val nDocs = (BaseDocs + MaxCycles * AppendDocs).toInt
      val nVecs = (BaseVecs + MaxCycles * AppendVecs).toInt
      var r = Gen.rng(seed, "docs")
      val texts = new Array[String](nDocs)
      (0 until nDocs).foreach { i =>
        texts(i) =
          if (i > 10 && r.nextDouble() < NearDupShare) perturb(texts(r.nextInt(i)), r)
          else Seq.fill(30 + r.nextInt(51))(word(vocab.draw(r))).mkString(" ")
        d.add(texts(i))
      }
      r = Gen.rng(seed, "vectors")
      val vs = (0 until nVecs).map { i =>
        val v = Gen.unitVector(r, Dim)
        d.add(v.mkString(","))
        (i.toLong, v)
      }
      val docPath = dir.resolve("docs.parquet").toString
      val vecPath = dir.resolve("vectors.parquet").toString
      texts.toSeq.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
        .coalesce(1).write.mode("overwrite").parquet(docPath)
      vs.toDF("vec_id", "embedding").coalesce(1).write.mode("overwrite").parquet(vecPath)
      (s.read.parquet(docPath), s.read.parquet(vecPath), d.hex,
        texts.zipWithIndex.map { case (t, i) => i.toLong -> t }.toMap)
    }
  }
}

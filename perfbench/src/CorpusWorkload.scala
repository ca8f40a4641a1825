package perfbench

import java.nio.file.Path

import scala.collection.mutable
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.{BandIndex, IndexCore, LexIndex, VecIndex}

/** `corpus_index`: one closed-loop client over the three persisted
  * index families. Set-up builds the run's index, lands batch 0 and
  * runs every verb once, cold. The measured window first replays batch
  * 0 in every family (the exactly-once fence: it must change nothing),
  * then cycles of [[RoundsPerCycle]] probe rounds, one `maintainBatch`
  * per family and one `compact` per family. A probe round is one probe
  * batch per family, issued one after the other: one client request.
  * Every window runs at least one whole cycle; a traced window then
  * also builds a scratch index, so every verb is traced. */
final class CorpusWorkload(spark: SparkSession, work: Path, seed: Long) extends Workload {
  val BaseDocs = 2000
  val ArrivingDocs = 1500
  val BaseVecs = 1000
  val ArrivingVecs = 750
  val DocBatch = 100
  val VecBatch = 50
  val RoundsPerCycle = 2
  val QueryBatches = 64
  val LexQueries = 16
  val VecQueries = 16
  val BandIds = 32

  /** One index family: how the workload drives each of its verbs. */
  private final case class Family(name: String,
      persist: (Gen.Corpus, String, String) => Unit,
      /** None when the batch was already landed (a no-op); else the
        * admitted ids (band only). */
      maintain: (Gen.Corpus, String, Int) => Option[Seq[Long]],
      probe: (Gen.Corpus, String, Int) => Array[Row],
      compact: String => Unit,
      tables: String => Seq[String])

  private def docs(c: Gen.Corpus) = graft.Tables.documents(spark, c.dir)
  private def embs(c: Gen.Corpus) = graft.Tables.embeddings(spark, c.dir)
  private def docBatch(c: Gen.Corpus, b: Int): DataFrame =
    docs(c).filter(col("doc_id").between(c.arrivingDoc(b * DocBatch), c.arrivingDoc((b + 1) * DocBatch - 1)))
  private def vecBatch(c: Gen.Corpus, b: Int): DataFrame =
    embs(c).filter(col("vec_id").between(c.arrivingVec(b * VecBatch), c.arrivingVec((b + 1) * VecBatch - 1)))
      .select("vec_id", "embedding")

  private val lex = Family("lex",
    (c, p, path) => LexIndex.persist(spark, c.dir, path, p + "_lex",
      docs = Some(docs(c).filter(col("doc_id") < c.baseDocs))),
    (c, p, b) => if (LexIndex.maintainBatch(spark, c.dir, p + "_lex", docBatch(c, b), b)) Some(Nil) else None,
    (c, p, q) => LexIndex.probe(spark, Gen.lexFrame(spark, c.lexQueries(q)), p + "_lex").collect(),
    p => LexIndex.compact(spark, p + "_lex"),
    p => Seq(LexIndex.postingsTable(p + "_lex"), LexIndex.docstatsTable(p + "_lex"), LexIndex.statsTable(p + "_lex")))
  private val vec = Family("vec",
    (c, p, path) => VecIndex.persist(spark, c.dir, path, p + "_vec",
      emb = Some(embs(c).filter(col("vec_id") < c.baseVecs).select("vec_id", "embedding"))),
    (c, p, b) => if (VecIndex.maintainBatch(spark, c.dir, p + "_vec", vecBatch(c, b), b)) Some(Nil) else None,
    (c, p, q) => VecIndex.probe(spark, c.dir, p + "_vec", Gen.vecFrame(spark, c.vecQueries(q))).collect(),
    p => VecIndex.compact(spark, p + "_vec"),
    p => Seq(VecIndex.cellsTable(p + "_vec")))
  private val band = Family("band",
    (c, p, path) => BandIndex.persist(spark, c.dir, path, p + "_band"),
    (c, p, b) => BandIndex.maintainBatch(spark, c.dir, p + "_band", docBatch(c, b).select("doc_id"), b)
      .map(_.filter(col("dup_of").isNull).select("batch_doc").collect().map(_.getLong(0)).toSeq),
    (c, p, q) => BandIndex.probeIds(spark, c.dir, p + "_band", Gen.idFrame(spark, c.bandQueries(q))).collect(),
    p => BandIndex.compact(spark, p + "_band"),
    p => Seq(BandIndex.bandsTable(p + "_band"), BandIndex.sigsTable(p + "_band")))
  private val families = Seq(lex, vec, band)

  private def files(f: Family, p: String): Seq[String] =
    f.tables(p).flatMap(IndexCore.tableFiles(spark, _)).sorted

  /** Run one task per family concurrently (set-up and checks only). */
  private def perFamily[T](body: Family => T): Map[String, T] = {
    implicit val ec: ExecutionContext = ExecutionContext.global
    val fs = families.map(f => Future(f.name -> body(f)))
    fs.map(Await.result(_, Duration.Inf)).toMap
  }

  private def clearShared(): Unit = {
    graft.ops.Relational.clearMemo(spark)
    graft.ops.Dedup.clearMemo(spark)
    spark.catalog.clearCache()
  }

  private var corpus: Gen.Corpus = _
  private val prefix = "pb"
  /** Summed per-family persist time of the fresh build in [[check]]. */
  private var buildMs = 0.0
  /** Mean text bytes of an arriving document. */
  private var docBytes = 0.0
  /** Next arriving batch to land; batch 0 lands during set-up. */
  private var nextBatch = 1
  private val admitted = mutable.ArrayBuffer.empty[Long]
  /** No batch has landed since the last compaction. */
  private var compactedLast = false

  def setup(): Unit = {
    corpus = Util.timed("generate")(Gen.corpus(spark, work.resolve("corpus").toString, seed,
      BaseDocs, ArrivingDocs, BaseVecs, ArrivingVecs, QueryBatches, LexQueries, VecQueries, BandIds))
    docBytes = docs(corpus).filter(col("source") === Gen.ArrivingSrc)
      .agg(avg(col("n_chars"))).head().getDouble(0)
    val c = corpus
    // build the run's index and run every verb once, so JIT and codegen warm
    Util.timed("build and warm pass")(perFamily { f =>
      f.persist(c, prefix, work.resolve(s"index/$prefix/${f.name}").toString)
      f.maintain(c, prefix, 0).foreach(admitted.synchronized(admitted ++= _))
      f.probe(c, prefix, 0); f.probe(c, prefix, 1); f.compact(prefix)
    })
  }

  def measure(t: Tracer, seconds: Double): Measure = {
    t.begin()
    clearShared()
    val c = corpus; val p = prefix
    val end = Util.now() + (seconds * 1000).toLong
    var attempted = 0L; var failed = 0L
    def op[T](body: => T): Option[T] = {
      attempted += 1
      try Some(body) catch { case e: Exception => failed += 1; Util.log(s"op failed: $e"); None }
    }
    val rounds = mutable.ArrayBuffer.empty[Double]
    val probeMs = families.map(_.name -> mutable.ArrayBuffer.empty[Double]).toMap
    val filesSeen = families.map(_.name -> mutable.ArrayBuffer.empty[Double]).toMap
    var maintainRows = 0L; var bandOffered = 0L; var bandAdmitted = 0L
    var q = 0

    // exactly-once fence: replaying a landed batch must change nothing
    families.foreach { f =>
      val before = files(f, p)
      val res = op(t.span(s"index.${f.name}.replay")(f.maintain(c, p, 0)))
      if (res.exists(_.isDefined) || files(f, p) != before) {
        failed += 1; Util.log(s"replay of batch 0 changed the ${f.name} index")
      }
    }
    def round(): Unit = {
      val r0 = System.nanoTime()
      val ok = families.map { f =>
        val s0 = System.nanoTime()
        op(t.span(s"index.${f.name}.probe")(f.probe(c, p, q))) match {
          case Some(rows) =>
            probeMs(f.name) += (System.nanoTime() - s0) / 1e6
            if (t.traced) t.named(s"index.${f.name}.probe").last.resultRows = rows.length
            true
          case None => false
        }
      }.forall(identity)
      if (ok) rounds += (System.nanoTime() - r0) / 1e6
      q = (q + 1) % QueryBatches
    }
    // every window completes at least one cycle, so each metric has a sample
    var compacted = false
    def more = Util.now() < end || !compacted
    while (more && (nextBatch + 1) * DocBatch <= ArrivingDocs) {
      (0 until RoundsPerCycle).foreach(_ => if (more) round())
      if (more) {
        val b = nextBatch; nextBatch += 1
        families.foreach { f =>
          op(t.span(s"index.${f.name}.maintain")(f.maintain(c, p, b))).foreach {
            case Some(ids) => admitted ++= ids; if (f eq band) bandAdmitted += ids.size
            case None => failed += 1; Util.log(s"batch $b was not landed by ${f.name}")
          }
          if (t.traced) filesSeen(f.name) += files(f, p).size.toDouble
        }
        maintainRows += 2 * DocBatch + VecBatch; bandOffered += DocBatch
        compactedLast = false
      }
      if (more) {
        families.foreach(f => op(t.span(s"index.${f.name}.compact")(f.compact(p))))
        compacted = true; compactedLast = true
      }
    }
    if (t.traced) families.foreach(f => op(t.span(s"index.${f.name}.persist") {
      f.persist(c, "scratch", work.resolve(s"index/scratch/${f.name}").toString)
    }))
    val maintainMs = families.flatMap(f => t.named(s"index.${f.name}.maintain")).map(_.wallMs).sum
    val indexBytes = Util.dirBytes(work.resolve(s"index/$p"))
    val p50 = Util.median(rounds.toSeq)
    val (tail, tailLabel) = Util.tail(rounds.toSeq)
    val rowsPerS = if (maintainMs > 0) maintainRows * 1000.0 / maintainMs else 0.0
    val named = mutable.LinkedHashMap[String, (Double, String)]("index.maintain_rows_per_s" -> (rowsPerS, "1/s"))
    val notes = mutable.LinkedHashMap("latency_tail_ms" -> tailLabel)
    families.foreach { f =>
      val (ft, fl) = Util.tail(probeMs(f.name).toSeq)
      named(s"index.${f.name}_probe_p50_ms") = (Util.median(probeMs(f.name).toSeq), "ms")
      named(s"index.${f.name}_probe_tail_ms") = (ft, "ms")
      notes(s"index.${f.name}_probe_tail_ms") = fl
    }
    named("index.bytes_per_input_byte") = (indexBytes.toDouble / c.inputBytes, "ratio")

    val layers = if (!t.traced) Map.empty[String, Double] else {
      t.drain()
      val m = mutable.Map.empty[String, Double]
      families.map(_.name).foreach { f =>
        Layers.verbs.foreach(v => m ++= Layers.spanMedians(t, s"index.$f.$v",
          fields = Seq("wall_ms", "job_ms", "driver_gap_ms")))
        val probes = t.named(s"index.$f.probe")
        m(s"index.$f.probe.rows_read_per_result") =
          probes.map(_.inputRecords).sum.toDouble / math.max(1L, probes.map(_.resultRows).sum)
        m(s"index.$f.probe.shuffle_bytes") = Util.median(probes.map(_.shuffleBytes.toDouble))
        val inBytesPerBatch = if (f == "vec") VecBatch * (8.0 + 4.0 * Gen.Dims) else DocBatch * docBytes
        m(s"index.$f.maintain.bytes_written_per_input_byte") =
          Util.median(t.named(s"index.$f.maintain").map(_.outputBytes.toDouble)) / inBytesPerBatch
        m(s"index.$f.files") = Util.median(filesSeen(f).toSeq)
        m(s"index.$f.compact.bytes_rewritten") =
          Util.median(t.named(s"index.$f.compact").map(_.outputBytes.toDouble))
      }
      m("index.band.admitted_share") = bandAdmitted.toDouble / math.max(1L, bandOffered)
      m.toMap
    }
    Measure(
      e2e = Map("throughput_per_s" -> rowsPerS, "latency_p50_ms" -> p50, "latency_tail_ms" -> tail),
      named = named.toMap, attempted = attempted, failed = failed, layers = layers,
      notes = notes.toMap ++ Map("probe_rounds" -> rounds.size.toString,
        "batches_landed" -> nextBatch.toString,
        "input" -> s"${c.baseDocs}+${c.arrivingDocs} docs, ${c.baseVecs}+${c.arrivingVecs} vectors, ${c.inputBytes} bytes"))
  }

  private var builtRows = 0L

  /** Build rate of the fresh index the check builds, after the window. */
  override def postNamed: Map[String, (Double, String)] =
    Map("index.build_docs_per_s" -> (builtRows * 1000.0 / buildMs, "1/s"))

  /** Probe answers of the maintained and compacted index must equal
    * those of an index built fresh over the same rows. */
  def check(): Seq[Check] = {
    clearShared()
    val c = corpus
    // the same rows, built fresh: the base plus every landed batch;
    // band-admitted arriving docs are relabelled so persist indexes them
    val ids = admitted.toSet
    val relabel = udf((id: Long, src: String) => if (ids.contains(id)) "src99" else src)
    val fc = c.copy(dir = work.resolve("corpus-fresh").toString,
      baseDocs = c.baseDocs + nextBatch * DocBatch, baseVecs = c.baseVecs + nextBatch * VecBatch)
    docs(c).withColumn("source", relabel(col("doc_id"), col("source")))
      .write.mode("overwrite").parquet(s"${fc.dir}/documents.parquet")
    embs(c).write.mode("overwrite").parquet(s"${fc.dir}/embeddings.parquet")
    def answers(f: Family, cc: Gen.Corpus, pp: String): Seq[String] =
      f.probe(cc, pp, 0).map(_.toString).toSeq.sorted
    // (maintained answers, fresh answers, persist ms) per family
    val res = perFamily { f =>
      if (!compactedLast) f.compact(prefix)
      val maintained = answers(f, c, prefix)
      val t0 = System.nanoTime()
      f.persist(fc, "fresh", work.resolve(s"index/fresh/${f.name}").toString)
      val ms = (System.nanoTime() - t0) / 1e6
      (maintained, answers(f, fc, "fresh"), ms)
    }
    buildMs = res.values.map(_._3).sum
    builtRows = fc.baseDocs + fc.baseVecs + c.baseDocs + ids.size
    families.map(_.name).map { f =>
      val (maintained, fresh, _) = res(f)
      Check(s"index.$f.maintained_equals_fresh", maintained == fresh && fresh.nonEmpty,
        s"${fresh.size} answer rows after $nextBatch batches")
    }
  }
}

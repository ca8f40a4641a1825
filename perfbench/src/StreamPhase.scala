package perfbench

import java.nio.file.{Files, Path, StandardCopyOption}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.gtfs.{GoldReport, SilverTransform}
import graft.streaming.Streams

/** The live feed, an open loop. One generator thread renames
  * pre-written poll files into the landing directory on a seeded
  * schedule: the reference phase at [[RefRate]] polls/s, then a burst
  * of [[BurstPolls]] polls at once. `Streams.bronzeStream →
  * cleanStream → goldRefresh` consumes them. Freshness runs from a
  * poll's scheduled landing time to the commit of the micro-batch whose
  * file-source log entry holds it; capacity is the burst size over the
  * time from its landing to the commit of its last poll. */
final class StreamPhase(spark: SparkSession, work: Path, seed: Long, refPolls: Int) {
  val RefRate = MedallionWorkload.RefRate
  val BurstPolls = 12
  val StepSec = 15L
  /** A reference-rate poll fresher than this counts as failed. */
  val LatencyLimitMs = 10000.0
  private val StartSec = 6 * 3600L

  private var polls: IndexedSeq[Gen.Poll] = _
  private var sentinel: Gen.Poll = _
  private var runNo = 0
  /** Gold output of the last measured feed, for the check. */
  private var lastOut: Path = _
  /** The feed as a day of Bronze, in the ingester's layout. */
  val bronzeRoot: Path = work.resolve("feed-bronze")
  private var bronze: Path = _
  private var flushed = false

  /** Generate the feed, write a copy of it as a day of Bronze (the
    * check's batch input) and warm the query up. Returns (records,
    * bytes) of the feed. */
  def setup(): (Long, Long) = {
    val fleet = new Gen.Fleet(seed)
    polls = (0 until refPolls + BurstPolls).map(k => fleet.next(StartSec + k * StepSec))
    sentinel = fleet.next(StartSec + (refPolls + BurstPolls - 1) * StepSec + 61, sentinel = true)
    bronze = Files.createDirectories(Gen.dayDir(bronzeRoot))
    polls.foreach(p => Files.write(bronze.resolve(p.name), p.json))
    // warm pass: the stateful plan, state store and sink on a small feed
    Util.timed("stream warm pass") {
      val warmFleet = new Gen.Fleet(seed + 1)
      val warm = (0 until 8).map(k => warmFleet.next(StartSec + k * StepSec))
      val (dir, landing, _, q) = start(warm)
      land(warm.map(_.name), dir, landing)
      awaitCommitted(dir, warm.map(_.name).toSet, 60000)
      q.stop()
    }
    (polls.map(_.records.toLong).sum, polls.map(_.json.length.toLong).sum)
  }

  /** Write `ps` to a fresh staging directory and start the query on a
    * fresh landing directory, checkpoint and output. */
  private def start(ps: Seq[Gen.Poll]): (Path, Path, Path, StreamingQuery) = {
    runNo += 1
    val dir = work.resolve(s"stream/run-$runNo")
    val staging = Files.createDirectories(dir.resolve("staging"))
    ps.foreach(p => Files.write(staging.resolve(p.name), p.json))
    val landing = Files.createDirectories(Gen.dayDir(dir.resolve("landing")))
    val out = dir.resolve("gold")
    val q = Streams.goldRefresh(Streams.cleanStream(Streams.bronzeStream(spark, landing.toString)),
      out.toString, dir.resolve("ckpt").toString)
    (dir, landing, out, q)
  }

  /** Move staged files into the landing directory, in order. Each file
    * first gets a modification time one millisecond after the previous
    * one, as an ingester writing the polls in turn would leave them:
    * the file source orders a micro-batch's files by modification time. */
  private def land(names: Seq[String], dir: Path, landing: Path): Unit =
    names.foreach { n =>
      val staged = dir.resolve("staging").resolve(n)
      lastMtime = math.max(lastMtime + 1, Util.now())
      Files.setLastModifiedTime(staged, java.nio.file.attribute.FileTime.fromMillis(lastMtime))
      Files.move(staged, landing.resolve(n), StandardCopyOption.ATOMIC_MOVE)
    }
  private var lastMtime = 0L

  /** File name -> micro-batch id, from the checkpoint's file-source log. */
  private def fileBatches(dir: Path): Map[String, Long] = {
    val log = dir.resolve("ckpt/sources/0")
    if (!Files.exists(log)) Map.empty
    else {
      val st = Files.list(log)
      val files = try st.iterator().asScala.toSeq finally st.close()
      val Entry = """"path":"([^"]+)".*"batchId":(\d+)""".r.unanchored
      files.filter(f => !f.getFileName.toString.startsWith(".")).flatMap { f =>
        Files.readAllLines(f).asScala.drop(1).collect { case Entry(p, b) =>
          p.substring(p.lastIndexOf('/') + 1) -> b.toLong }
      }.toMap
    }
  }

  /** Commit time (ms) of each committed micro-batch. */
  private def commits(dir: Path): Map[Long, Long] = {
    val c = dir.resolve("ckpt/commits")
    if (!Files.exists(c)) Map.empty
    else {
      val st = Files.list(c)
      try st.iterator().asScala.map(_.getFileName.toString).filter(_.forall(_.isDigit))
        .map(n => n.toLong -> Files.getLastModifiedTime(c.resolve(n)).toMillis).toMap
      finally st.close()
    }
  }

  private def awaitCommitted(dir: Path, names: Set[String], timeoutMs: Long): Boolean = {
    val end = Util.now() + timeoutMs
    def done = { val fb = fileBatches(dir); val cm = commits(dir)
      names.forall(n => fb.get(n).exists(cm.contains)) }
    while (!done && Util.now() < end) Thread.sleep(20)
    done
  }

  def measure(t: Tracer): Measure = {
    Util.settle()
    val (dir, landing, out, q) = start(polls :+ sentinel)
    lastOut = out
    val names = polls.map(_.name)
    // schedule: the reference phase, each landing jittered by up to 40%
    // of the gap so that landings fall at every phase of the micro-batch
    // cycle, then the burst right after it
    val gapMs = 1000 / RefRate
    val jitter = new java.util.SplittableRandom(seed ^ 0x7e57L)
    val t0 = Util.now() + 500
    val sched = (0 until refPolls).map(k => t0 + (gapMs * (k + 0.8 * (jitter.nextDouble() - 0.5))).toLong) ++
      Seq.fill(BurstPolls)(t0 + (refPolls * gapMs).toLong)
    val actual = new Array[Long](names.size)
    names.indices.foreach { k =>
      val wait = sched(k) - Util.now()
      if (wait > 0) Thread.sleep(wait)
      land(Seq(names(k)), dir, landing)
      actual(k) = Util.now()
    }
    val allIn = awaitCommitted(dir, names.toSet, 60000)
    val fb = fileBatches(dir); val cm = commits(dir)
    val commitAt = names.map(n => fb.get(n).flatMap(cm.get))
    val fresh = (0 until refPolls).flatMap(k => commitAt(k).map(c => (c - sched(k)).toDouble))
    val burstEnd = commitAt.drop(refPolls).flatten.maxOption
    val capacity = burstEnd.map(e => BurstPolls * 1000.0 / (e - sched(refPolls))).getOrElse(0.0)
    val missing = commitAt.count(_.isEmpty)
    val late = fresh.count(_ > LatencyLimitMs)
    val p50 = Util.median(fresh)
    val (tail, tailLabel) = Util.tail(fresh)
    val lag = names.indices.map(k => (actual(k) - sched(k)).toDouble).max
    // backlog seen by each reference-phase landing: landed minus committed polls
    val backlog = (0 until refPolls).map(k =>
      (k + 1) - commitAt.take(refPolls).count(_.exists(_ <= actual(k)))).max

    val layers = if (!t.traced) Map.empty[String, Double] else streamLayers(t, lag, backlog)
    // release every held ping for the check, and stop the query before
    // the batch phase so it does not compete for the cores
    land(Seq(sentinel.name), dir, landing)
    flushed = awaitCommitted(dir, Set(sentinel.name), 60000)
    q.processAllAvailable()
    q.stop()
    Measure(
      e2e = Map("latency_p50_ms" -> p50, "latency_tail_ms" -> tail),
      named = Map("stream.fresh_p50_ms" -> (p50, "ms"), "stream.fresh_tail_ms" -> (tail, "ms"),
        "stream.capacity_polls_s" -> (capacity, "1/s"), "stream.generator_lag_ms" -> (lag, "ms"),
        "stream.backlog_polls_max" -> (backlog.toDouble, "count")),
      attempted = names.size, failed = missing + late, layers = layers,
      notes = Map("feed" -> s"$refPolls polls at $RefRate/s then a burst of $BurstPolls, ${Gen.Vehicles} vehicles per poll",
        "latency_tail_ms" -> tailLabel, "latency_limit_ms" -> LatencyLimitMs.toString,
        "all_committed" -> allIn.toString))
  }

  private def streamLayers(t: Tracer, lag: Double, backlog: Int): Map[String, Double] = {
    t.drain()
    val ps = t.progress.asScala.map(_.progress).filter(_.numInputRows > 0).toSeq
    def dur(p: org.apache.spark.sql.streaming.StreamingQueryProgress, k: String): Double =
      Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
    def med(f: org.apache.spark.sql.streaming.StreamingQueryProgress => Double) = Util.median(ps.map(f))
    val gaps = ps.map { p =>
      val jobs = Option(t.streamJobs.get(p.batchId)).map(_.toSeq).getOrElse(Nil)
      val start = java.time.Instant.parse(p.timestamp).toEpochMilli
      val trigger = dur(p, "triggerExecution")
      trigger - Trace.unionMs(jobs, start, start + trigger.toLong)
    }
    Map(
      "stream.batch_ms" -> med(dur(_, "triggerExecution")),
      "stream.add_batch_ms" -> med(dur(_, "addBatch")),
      "stream.planning_ms" -> med(dur(_, "queryPlanning")),
      "stream.commit_ms" -> med(p => dur(p, "walCommit") + dur(p, "commitOffsets")),
      "stream.driver_gap_ms" -> Util.median(gaps),
      "stream.polls_per_batch" -> med(_.numInputRows.toDouble),
      "stream.state_rows" -> ps.map(_.stateOperators.map(_.numRowsTotal).sum.toDouble).maxOption.getOrElse(0.0),
      "stream.state_bytes" -> ps.map(_.stateOperators.map(_.memoryUsedBytes).sum.toDouble).maxOption.getOrElse(0.0),
      "stream.backlog_polls_max" -> backlog.toDouble,
      "stream.generator_lag_ms" -> lag)
  }

  /** Fold the Gold partials of the day, written once the sentinel had
    * released every held ping, and compare them with the batch report
    * over the same polls. */
  def check(): Seq[Check] = {
    val folded = spark.read.parquet(lastOut.toString)
      .filter(col("date") === lit(java.sql.Date.valueOf(Gen.Day)))
      .groupBy("Lines").agg(sum("total_distance_km").as("d"), sum("total_cost_pln").as("c"),
        max("max_segment_km").as("ms"), sum("data_points_count").as("n"),
        sum("sum_speed_kmh").as("ss"), max("max_recorded_speed").as("mv"))
      .collect().map(r => r.getString(0) -> r).toMap
    // the batch report over exactly the polls the stream consumed
    val batch = GoldReport.createDailyReport(
      SilverTransform.transform(SilverTransform.readBronze(spark, bronze.toString), Gen.Day))
      .select(col("Lines"), col("total_distance_km"), col("total_cost_pln"), col("max_segment_km"),
        col("data_points_count"), (col("avg_speed") * col("data_points_count")).as("ss"),
        col("max_recorded_speed"))
      .collect().map(r => r.getString(0) -> r).toMap
    def close(a: Double, b: Double) = math.abs(a - b) <= 1e-9 * math.max(1.0, math.abs(b))
    val bad = (folded.keySet ++ batch.keySet).toSeq.sorted.filter { l =>
      (folded.get(l), batch.get(l)) match {
        case (Some(f), Some(b)) =>
          !(close(f.getDouble(1), b.getDouble(1)) && close(f.getDouble(2), b.getDouble(2)) &&
            close(f.getDouble(3), b.getDouble(3)) && f.getLong(4) == b.getLong(4) &&
            close(f.getDouble(5), b.getDouble(5)) && close(f.getDouble(6), b.getDouble(6)))
        case _ => true
      }
    }
    Seq(
      Check("stream.flushed", flushed, s"sentinel committed: $flushed"),
      Check("stream.partials_equal_batch_report", bad.isEmpty && batch.nonEmpty,
        s"${batch.size} lines, ${bad.size} differ${bad.take(5).mkString(": ", ", ", "")}"))
  }
}

package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** What one measured window produced. `e2e` holds the end-to-end
  * metrics common to every workload; `named` the workload's own
  * metrics (value, unit), printed for people reading the log. */
final case class Measure(e2e: Map[String, Double], named: Map[String, (Double, String)],
    attempted: Long, failed: Long, layers: Map[String, Double], notes: Map[String, String])

final case class Check(name: String, ok: Boolean, detail: String)

trait Workload {
  /** Generate inputs and run one untimed pass so JIT and caches warm. */
  def setup(): Unit
  /** Run the workload for `seconds`; `t` times every call. */
  def measure(t: Tracer, seconds: Double): Measure
  /** Output checks on the last measured window, outside any timing. */
  def check(): Seq[Check]
  /** Workload metrics that [[check]] measures, for the run log. */
  def postNamed: Map[String, (Double, String)] = Map.empty
  /** Files the run leaves for the driver script's own checks. */
  def extra: Map[String, Any] = Map.empty
}

object Layers {
  val spanFields = Seq("wall_ms", "job_ms", "driver_gap_ms", "tasks", "task_cpu_ms",
    "shuffle_bytes", "spill_bytes", "input_bytes", "output_bytes")
  val gtfsSpans = Seq("silver", "gold.report", "gold.drilldown")
  val families = Seq("lex", "vec", "band")
  val verbs = Seq("persist", "maintain", "probe", "compact", "replay")
  val streamFields = Seq("batch_ms", "add_batch_ms", "planning_ms", "commit_ms", "driver_gap_ms",
    "polls_per_batch", "state_rows", "state_bytes", "backlog_polls_max", "generator_lag_ms")

  /** Every per-layer metric, in report order. Layers a workload does
    * not exercise report 0. */
  val names: Seq[String] =
    gtfsSpans.flatMap(s => spanFields.map(f => s"$s.$f")) ++ Seq("silver.yield") ++
      streamFields.map(f => s"stream.$f") ++
      families.flatMap(f => verbs.flatMap(v => Seq("wall_ms", "job_ms", "driver_gap_ms").map(x => s"index.$f.$v.$x"))) ++
      families.flatMap(f => Seq(s"index.$f.probe.rows_read_per_result", s"index.$f.probe.shuffle_bytes",
        s"index.$f.maintain.bytes_written_per_input_byte", s"index.$f.files", s"index.$f.compact.bytes_rewritten")) ++
      Seq("index.band.admitted_share", "jvm.gc_ms", "jvm.heap_peak_mb",
        "trace.overhead_latency_pct", "trace.overhead_throughput_pct", "trace.uncovered_spans")

  /** Per-call medians of the span fields, for spans named `name`. */
  def spanMedians(t: Tracer, name: String, fields: Seq[String] = spanFields): Map[String, Double] = {
    val ss = t.named(name)
    def med(f: Span => Double) = Util.median(ss.map(f))
    val all: Map[String, Double] = Map(
      "wall_ms" -> med(_.wallMs), "job_ms" -> med(_.jobMs), "driver_gap_ms" -> med(_.gapMs),
      "tasks" -> med(_.tasks.toDouble), "task_cpu_ms" -> med(_.cpuNs / 1e6),
      "shuffle_bytes" -> med(_.shuffleBytes.toDouble), "spill_bytes" -> med(_.spillBytes.toDouble),
      "input_bytes" -> med(_.inputBytes.toDouble), "output_bytes" -> med(_.outputBytes.toDouble))
    fields.map(f => s"$name.$f" -> all(f)).toMap
  }
}

object Main {
  /** Peak resident set of this JVM (VmHWM), in MiB. */
  def peakRssMb(): Double = {
    val hwm = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble).getOrElse(0.0)
    hwm / 1024.0
  }

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    val work = Paths.get(a("work")).toAbsolutePath
    val out = Paths.get(a("out")).toAbsolutePath

    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = SparkSession.builder()
      .master("local[4]")
      .appName("perfbench")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.local.dir", work.resolve("tmp").toString)
      .config("spark.sql.streaming.checkpointLocation", work.resolve("ckpt-default").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.Tables.pin(spark)
    val sessionS = (Util.now() - jvmStart) / 1000.0
    Util.log(f"session $sessionS%.2f s")
    if (a.get("setup-only").contains("1")) {
      // class data sharing training: set-up loads the classes a run uses
      workloadFor(spark, workload, seed, seconds, work).setup()
    } else {
      val res = run(spark, workload, seed, seconds, traced, work, sessionS)
      res("peak_rss_mb") = peakRssMb()
      Files.write(out, Util.json(res).getBytes("UTF-8"))
    }
    spark.stop()
  }

  def workloadFor(spark: SparkSession, workload: String, seed: Long, seconds: Double,
      work: Path): Workload = workload match {
    case "medallion" => new MedallionWorkload(spark, work, seed, seconds)
    case "corpus_index" => new CorpusWorkload(spark, work, seed)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  /** Set up, measure and check one workload; returns the result record. */
  def run(spark: SparkSession, workload: String, seed: Long, seconds: Double, traced: Boolean,
      work: Path, sessionS: Double): mutable.LinkedHashMap[String, Any] = {
    val w = workloadFor(spark, workload, seed, seconds, work)
    // Untraced window: the end-to-end figures. Traced run: a traced
    // window first, then an untraced one to compare against.
    val t0 = Util.now()
    w.setup()
    val setupS = sessionS + (Util.now() - t0) / 1000.0
    Util.log(f"setup $setupS%.2f s")

    val tracedM = if (traced) {
      val tr = new Tracer(spark, traced = true)
      Util.settle()
      val m = w.measure(tr, seconds)
      val jvm = Map("jvm.gc_ms" -> tr.gcMs, "jvm.heap_peak_mb" -> tr.heapPeakMb)
      tr.close()
      tr.dump(work.resolve("spans.jsonl"))
      val uncovered = tr.spans.map(_.uncovered).sum
      Some((m.copy(layers = m.layers ++ jvm + ("trace.uncovered_spans" -> uncovered.toDouble)),
        Check("trace.jobs_within_spans", uncovered == 0,
          s"$uncovered of ${tr.spans.map(_.jobs.size).sum} jobs outside their span")))
    } else None
    val plainTracer = new Tracer(spark, traced = false)
    Util.settle()
    val plain = w.measure(plainTracer, seconds)
    plainTracer.spans.groupBy(_.name).toSeq.sortBy(_._1).foreach { case (n, ss) =>
      Util.log(f"span $n%-22s x${ss.size}%-3d median ${Util.median(ss.map(_.wallMs).toSeq)}%.0f ms")
    }
    val checks =
      (try Util.timed("checks")(w.check())
      catch { case e: Exception => Seq(Check("checks", ok = false, e.toString)) }) ++ tracedM.map(_._2)
    val failedChecks = checks.count(!_.ok)

    val layers: Map[String, Double] = tracedM.map(_._1).map { m =>
      def pct(k: String) = {
        val u = plain.e2e(k); val tv = m.e2e(k)
        if (u == 0) 0.0 else 100.0 * (tv - u) / u
      }
      Layers.names.map(n => n -> m.layers.getOrElse(n, 0.0)).toMap ++ Map(
        "trace.overhead_latency_pct" -> pct("latency_p50_ms"),
        "trace.overhead_throughput_pct" -> -pct("throughput_per_s"))
    }.getOrElse(Map.empty)

    val res = mutable.LinkedHashMap[String, Any](
      "workload" -> workload, "seed" -> seed, "traced" -> traced,
      "setup_s" -> setupS, "session_s" -> sessionS,
      "e2e" -> plain.e2e,
      "named" -> (plain.named ++ w.postNamed).map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) },
      "notes" -> plain.notes,
      "attempted" -> (plain.attempted + checks.size),
      "failed" -> (plain.failed + failedChecks),
      "checks" -> checks.map(c => Map("name" -> c.name, "ok" -> c.ok, "detail" -> c.detail)),
      "per_layer" -> layers,
      "traced_e2e" -> tracedM.map(_._1.e2e).getOrElse(Map.empty))
    res ++= w.extra
  }
}

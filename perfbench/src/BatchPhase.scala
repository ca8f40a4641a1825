package perfbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.gtfs.{GoldReport, SilverTransform}

/** The end-of-day batch: a generated day of [[DayPolls]] Bronze polls
  * through Silver, the Gold daily report and the drill-down, one pass
  * at a time (closed loop, one client), [[Passes]] passes a window. The
  * day has a fixed size, whatever the window's length. */
final class BatchPhase(spark: SparkSession, work: Path, seed: Long) {
  val DayPolls = 120
  val StepSec = 15L
  val Passes = 3
  private val StartSec = 6 * 3600L
  private val bronze = work.resolve("batch-bronze")
  private var records = 0L
  private var lastPass: Path = _
  private var drill: (String, String) = ("", "")
  private var passNo = 0

  /** Generate the day and run three untimed passes: the cold one over
    * `warmBronze`, a smaller day of polls, then two over the day, after
    * which pass times stop falling. Returns a description of the input. */
  def setup(warmBronze: Path): String = {
    var bytes = 0L
    Util.timed("generate batch day") {
      val fleet = new Gen.Fleet(seed ^ 0xba7cL)
      val dir = Files.createDirectories(Gen.dayDir(bronze))
      (0 until DayPolls).foreach { k =>
        val p = fleet.next(StartSec + k * StepSec)
        Files.write(dir.resolve(p.name), p.json)
        records += p.records; bytes += p.json.length
      }
    }
    Util.timed("batch warm passes") {
      pass(new Tracer(spark, traced = false), warmBronze)
      (1 to 2).foreach(_ => pass(new Tracer(spark, traced = false)))
    }
    s"$DayPolls polls, $records records, $bytes bytes of Bronze JSON"
  }

  private def clearShared(): Unit = {
    graft.ops.Relational.clearMemo(spark)
    graft.ops.Dedup.clearMemo(spark)
    spark.catalog.clearCache()
  }

  /** One pass over the day under `in`; returns its wall time in ms. */
  private def pass(t: Tracer, in: Path = bronze): Double = {
    clearShared()
    passNo += 1
    val dir = work.resolve(s"batch/pass-$passNo")
    val silverPath = dir.resolve("silver").toString
    val goldPath = dir.resolve("gold").toString
    val t0 = System.nanoTime()
    t.span("silver") {
      val raw = SilverTransform.readBronze(spark, in.resolve("WAW").toString)
      SilverTransform.saveSilver(SilverTransform.transform(raw, Gen.Day), silverPath)
    }
    t.span("gold.report") {
      GoldReport.saveGold(GoldReport.createDailyReport(spark.read.parquet(silverPath)), goldPath, Gen.Day)
    }
    drill = t.span("gold.drilldown") {
      val enriched = GoldReport.enrichWithMetrics(spark.read.parquet(silverPath))
      val top = GoldReport.mostExpensiveLine(spark.read.parquet(goldPath))
      val hv = GoldReport.hardestWorkingVehicle(GoldReport.lineSlice(enriched, top)).collect()
      (top.collect().head.getAs[String]("Lines"), hv.head.getAs[String]("VehicleNumber"))
    }
    val ms = (System.nanoTime() - t0) / 1e6
    Option(lastPass).foreach(Util.deleteTree)
    lastPass = dir
    ms
  }

  def measure(t: Tracer): Measure = {
    val passes = scala.collection.mutable.ArrayBuffer.empty[Double]
    var failed = 0L
    (1 to Passes).foreach { _ =>
      try { passes += pass(t); Util.log(f"pass ${passes.last}%.0f ms") }
      catch { case e: Exception => failed += 1; Util.log(s"pass failed: $e") }
    }
    val p50 = Util.median(passes.toSeq)
    val rps = Util.median(passes.map(ms => records / (ms / 1000.0)).toSeq)
    val layers =
      if (!t.traced) Map.empty[String, Double]
      else {
        t.drain()
        val kept = Util.median(t.silverKept.asScala.map(_.toDouble).toSeq)
        Layers.gtfsSpans.flatMap(s => Layers.spanMedians(t, s)).toMap +
          ("silver.yield" -> kept / records)
      }
    Measure(
      e2e = Map("throughput_per_s" -> rps),
      named = Map("medallion.records_per_s" -> (rps, "1/s"), "medallion.pass_p50_ms" -> (p50, "ms")),
      attempted = Passes, failed = failed, layers = layers,
      notes = Map("passes" -> passes.size.toString))
  }

  /** Where the last pass left its Gold output, for the DuckDB check. */
  def duckdbSpec: Map[String, Any] = Map(
    "bronze" -> bronze.resolve("WAW").toString,
    "gold" -> lastPass.resolve("gold").toString,
    "day" -> Gen.Day.toString,
    "top_line" -> drill._1, "top_vehicle" -> drill._2)
}

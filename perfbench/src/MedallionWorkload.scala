package perfbench

import java.nio.file.Path

import org.apache.spark.sql.SparkSession

import MedallionWorkload._

/** `medallion`: the paper's pipeline. The window opens with the batch
  * passes over a generated day of polls (closed loop: Silver, the Gold
  * report and the drill-down), then lands a separate feed of polls as
  * a live stream (open loop: Gold freshness and capacity of
  * `Streams.goldRefresh`). */
final class MedallionWorkload(spark: SparkSession, work: Path, seed: Long, seconds: Double)
    extends Workload {
  private val stream = new StreamPhase(spark, work, seed,
    refPolls = math.round(StreamShare * seconds * RefRate).toInt)
  private val batch = new BatchPhase(spark, work, seed)
  private var input = Map.empty[String, String]

  def setup(): Unit = {
    val (records, bytes) = stream.setup()
    input = Map("feed input" -> s"$records records, $bytes bytes of Bronze JSON",
      "batch input" -> batch.setup(stream.bronzeRoot))
  }

  def measure(t: Tracer, seconds: Double): Measure = {
    t.begin()
    val b = batch.measure(t)
    val s = stream.measure(t)
    Measure(s.e2e ++ b.e2e, s.named ++ b.named, s.attempted + b.attempted, s.failed + b.failed,
      s.layers ++ b.layers, s.notes ++ b.notes ++ input)
  }

  def check(): Seq[Check] = stream.check()

  override def extra: Map[String, Any] = Map("duckdb_check" -> batch.duckdbSpec)
}

object MedallionWorkload {
  /** Reference poll rate of the live feed, polls/s. */
  val RefRate = 2.0
  /** Share of the window the reference phase of the feed lasts. */
  val StreamShare = 0.6
}

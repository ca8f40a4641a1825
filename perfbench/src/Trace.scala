package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed public call. Job and task figures are filled in by
  * [[Tracer]] from the jobs that ran under the span's job group. */
final class Span(val id: String, val name: String, val start: Long) {
  var end: Long = 0L
  var resultRows: Long = 0L
  val jobs = mutable.Map.empty[Int, (Long, Long)] // jobId -> (start, end)
  var tasks = 0L
  var cpuNs = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
  var inputBytes = 0L
  var inputRecords = 0L
  var outputBytes = 0L

  def wallMs: Double = (end - start).toDouble
  /** Length of the union of this span's job intervals, clipped to it. */
  def jobMs: Double = Trace.unionMs(jobs.values.toSeq, start, end)
  def gapMs: Double = wallMs - jobMs
  /** Jobs that started before or ended after the span (beyond a 50 ms
    * event-time tolerance): their time would be misattributed. */
  def uncovered: Int = jobs.values.count { case (s, e) => s < start - 50 || e > end + 50 }
}

/** Times calls into each layer from outside the program. Untraced it
  * only measures wall time; traced it tags each call with its own job
  * group and attributes jobs, tasks and observed metrics to it through
  * listeners it registers itself. Spans stay in memory until [[dump]]. */
final class Tracer(spark: SparkSession, val traced: Boolean) {
  private val sc = spark.sparkContext
  val spans = mutable.ArrayBuffer.empty[Span]
  private val byGroup = new java.util.concurrent.ConcurrentHashMap[String, Span]()
  private val jobGroup = new java.util.concurrent.ConcurrentHashMap[Int, String]()
  private val jobBatch = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
  private var n = 0

  /** Streaming micro-batches: batch id -> job intervals, from the
    * `streaming.sql.batchId` property Spark sets on their jobs. */
  val streamJobs = new java.util.concurrent.ConcurrentHashMap[Long, mutable.ArrayBuffer[(Long, Long)]]()
  val progress = new java.util.concurrent.ConcurrentLinkedQueue[StreamingQueryListener.QueryProgressEvent]()
  /** `rows_kept` of every `silver_metrics` observation, in order. */
  val silverKept = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
  private val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, Long]()

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      jobStart.put(e.jobId, e.time)
      val props = Option(e.properties)
      props.flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).foreach { g =>
        jobGroup.put(e.jobId, g)
        Option(byGroup.get(g)).foreach(s => s.synchronized { s.jobs(e.jobId) = (e.time, e.time) })
      }
      props.flatMap(p => Option(p.getProperty("streaming.sql.batchId"))).foreach(b => jobBatch.put(e.jobId, b.toLong))
      e.stageIds.foreach(st => stageJob.put(st, e.jobId))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      val st = jobStart.getOrDefault(e.jobId, e.time)
      Option(jobGroup.get(e.jobId)).flatMap(g => Option(byGroup.get(g))).foreach { s =>
        s.synchronized { s.jobs(e.jobId) = (st, e.time) }
      }
      Option(jobBatch.get(e.jobId)).foreach { b =>
        val buf = streamJobs.computeIfAbsent(b, _ => mutable.ArrayBuffer.empty)
        buf.synchronized(buf += ((st, e.time)))
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) Option(stageJob.get(e.stageId)).flatMap(j => Option(jobGroup.get(j)))
        .flatMap(g => Option(byGroup.get(g))).foreach { s =>
          s.synchronized {
            s.tasks += 1
            s.cpuNs += m.executorCpuTime
            s.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
            s.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
            s.inputBytes += m.inputMetrics.bytesRead
            s.inputRecords += m.inputMetrics.recordsRead
            s.outputBytes += m.outputMetrics.bytesWritten
          }
        }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      qe.observedMetrics.get("silver_metrics").foreach(r => silverKept.add(r.getAs[Long]("rows_kept")))
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  private val queryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = progress.add(e)
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  private val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala.toSeq
    .filter(_.getType == java.lang.management.MemoryType.HEAP)
  private var gc0 = 0L

  if (traced) {
    sc.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(queryListener)
  }

  /** Start of the measured window: reset GC and heap-peak baselines. */
  def begin(): Unit = {
    gc0 = gcBeans.map(_.getCollectionTime).sum
    heapPools.foreach(_.resetPeakUsage())
  }
  def gcMs: Double = (gcBeans.map(_.getCollectionTime).sum - gc0).toDouble
  def heapPeakMb: Double = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0

  /** Run `body` as one span named `name`; returns its result. */
  def span[T](name: String)(body: => T): T = {
    val id = synchronized { n += 1; s"perfbench-$n" }
    val s = new Span(id, name, System.currentTimeMillis())
    if (traced) { byGroup.put(id, s); sc.setJobGroup(id, name, interruptOnCancel = false) }
    try body
    finally {
      s.end = System.currentTimeMillis()
      if (traced) sc.clearJobGroup()
      spans.synchronized(spans += s)
    }
  }

  /** Wait until every listener event posted so far has been handled. */
  def drain(): Unit = if (traced) org.apache.spark.PerfbenchBus.drain(sc)

  def close(): Unit = if (traced) {
    drain()
    sc.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(queryListener)
  }

  def named(name: String): Seq[Span] = spans.synchronized(spans.filter(_.name == name).toSeq)

  /** Spans as JSON lines, for offline inspection. */
  def dump(path: java.nio.file.Path): Unit = {
    val lines = spans.map { s =>
      f"""{"name":"${s.name}","start":${s.start},"wall_ms":${s.wallMs}%.1f,"job_ms":${s.jobMs}%.1f,""" +
        f""""driver_gap_ms":${s.gapMs}%.1f,"jobs":${s.jobs.size},"tasks":${s.tasks},""" +
        f""""task_cpu_ms":${s.cpuNs / 1e6}%.1f,"shuffle_bytes":${s.shuffleBytes},"spill_bytes":${s.spillBytes},""" +
        f""""input_bytes":${s.inputBytes},"output_bytes":${s.outputBytes},"result_rows":${s.resultRows}}"""
    }
    java.nio.file.Files.write(path, lines.asJava)
  }
}

object Trace {
  /** Total length of the union of `[s, e]` intervals, clipped to `[lo, hi]`. */
  def unionMs(iv: Seq[(Long, Long)], lo: Long, hi: Long): Double = {
    val c = iv.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }.filter(p => p._2 > p._1).sortBy(_._1)
    var tot = 0L; var cs = -1L; var ce = -1L
    c.foreach { case (s, e) =>
      if (s > ce) { if (ce > cs) tot += ce - cs; cs = s; ce = e } else ce = math.max(ce, e)
    }
    if (ce > cs) tot += ce - cs
    tot.toDouble
  }
}

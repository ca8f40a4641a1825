package perfbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

object Util {
  def now(): Long = System.currentTimeMillis()

  /** Progress line for the run log; the driver script echoes these. */
  def log(msg: String): Unit = println(s"perfbench: $msg")

  /** Run `body`, logging its wall time under `what`. */
  def timed[T](what: String)(body: => T): T = {
    val t0 = System.nanoTime()
    try body finally log(f"$what%s ${(System.nanoTime() - t0) / 1e9}%.2f s")
  }

  /** Start a timed phase from a collected heap and an idle compiler,
    * not in the wake of whatever ran before it: collect, then wait, up
    * to `maxMs`, until the JIT compiler has been idle for `idleMs`. */
  def settle(idleMs: Long = 300, maxMs: Long = 5000): Unit = {
    val t0 = now()
    System.gc()
    val jit = java.lang.management.ManagementFactory.getCompilationMXBean
    var last = jit.getTotalCompilationTime
    var idleSince = now()
    while (now() - idleSince < idleMs && now() - t0 < maxMs) {
      Thread.sleep(50)
      val c = jit.getTotalCompilationTime
      if (c != last) { last = c; idleSince = now() }
    }
    log(f"settled in ${now() - t0} ms")
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** The highest percentile with at least ten samples beyond it: the
    * (n-10)-th smallest of n samples. Below 40 samples that percentile
    * would sit under p75, so p90, interpolated between neighbouring
    * samples, stands in: steadier than the maximum of a few. Returns
    * (value, percentile label). */
  def tail(xs: Seq[Double]): (Double, String) = {
    val s = xs.sorted
    if (s.isEmpty) (0.0, "none")
    else if (s.size < 40) {
      val pos = 0.9 * (s.size - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.size - 1)
      (s(lo) + (pos - lo) * (s(hi) - s(lo)), s"p90 of ${s.size}, interpolated")
    }
    else {
      val i = s.size - 11
      (s(i), f"p${100.0 * (i + 1) / s.size}%.0f of ${s.size}")
    }
  }

  def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val st = Files.walk(p)
      try st.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally st.close()
    }

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val st = Files.walk(p)
    try st.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists)
    finally st.close()
  }

  /** Minimal JSON writer for flat and nested maps of numbers/strings. */
  def json(v: Any): String = v match {
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => s"${json(k.toString)}:${json(x)}" }.mkString("{", ",", "}")
    case s: Seq[_] => s.map(json).mkString("[", ",", "]")
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case b: Boolean => b.toString
    case n: Number => n.toString
    case null => "null"
    case o => json(o.toString)
  }
}

package perfbench

import scala.collection.mutable

/** Order statistics used by every reported timing. */
object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  private val Percentiles = Seq(50.0, 75.0, 90.0, 95.0, 99.0, 99.9)

  /** The highest of the usual percentiles that still has at least ten
    * samples beyond it (nearest-rank), as (percentile, value); None when
    * fewer than eleven samples leave no such percentile. A tail figure
    * with fewer samples beyond it would be one or two observations.
    */
  def tail(xs: Seq[Double]): Option[(Double, Double)] = {
    val s = xs.sorted
    val n = s.size
    Percentiles.reverse.collectFirst {
      case p if n - math.ceil(p / 100 * n).toInt >= 10 =>
        (p, s(math.ceil(p / 100 * n).toInt - 1))
    }
  }

  /** Wall time the tasks cannot account for: scheduling, planning, codegen
    * and driver-side work. Task run time spread over the cores is what the
    * executors could have done in parallel. */
  def driverSeconds(wallS: Double, taskRunS: Double, cores: Int): Double =
    wallS - taskRunS / cores

  /** Slowest task over the median task; 1 means perfectly even tasks. */
  def skew(taskS: Seq[Double]): Double =
    if (taskS.isEmpty) 1.0 else taskS.max / math.max(median(taskS), 1e-9)
}

/** Counts operations and keeps the timings of those that succeeded. An
  * operation that throws, or whose output fails its check, is counted as
  * failed and its time is never reported. */
final class Ops {
  private var attemptedN = 0
  private val failedNames = mutable.ArrayBuffer.empty[String]

  def attempted: Int = attemptedN
  def failed: Int = failedNames.size
  def failures: Seq[String] = failedNames.toSeq

  /** Time `body`; Some(seconds) on success, None if it threw. */
  def timed[A](name: String)(body: => A): Option[(A, Double)] = {
    attemptedN += 1
    val t0 = System.nanoTime()
    try {
      val a = body
      Some((a, (System.nanoTime() - t0) / 1e9))
    } catch {
      case e: Throwable =>
        System.err.println(s"[perfbench] $name FAILED: ${e.getClass.getSimpleName}: ${e.getMessage}")
        failedNames += name
        None
    }
  }

  /** Count an extra operation that is only a verdict (an output check). */
  def check(name: String, ok: Boolean): Boolean = {
    attemptedN += 1
    if (!ok) failedNames += name
    ok
  }

  /** Mark an already-counted operation as failed (its output check failed
    * after it ran). */
  def fail(name: String): Unit = failedNames += name
}

/** Minimal JSON writer for the result line and the run record. */
object Json {
  def write(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => write(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + write(x) }
        .mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(write).mkString("[", ",", "]")
    case p: Product => write(p.productIterator.toSeq)
    case other => quote(other.toString)
  }

  private def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}

/** Facts about the host and JVM that every record carries. */
object RunContext {
  def loadavg(): String =
    try scala.io.Source.fromFile("/proc/loadavg").mkString.trim
    catch { case _: Throwable => "unavailable" }

  /** Peak resident set of this JVM in MB (VmHWM). */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:")).get
      .replaceAll("[^0-9]", "").toDouble / 1024
    finally src.close()
  }

  def jvmFlags(): Seq[String] = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getRuntimeMXBean
      .getInputArguments.asScala.toSeq
  }
}

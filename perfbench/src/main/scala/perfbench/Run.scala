package perfbench

import scala.collection.mutable
import scala.util.control.NonFatal

/** What one benchmark run accumulates: op counts, latencies, metrics,
  * calibration labels and gate failures. Serialized once at the end. */
final class Run {
  private var attemptedOps = 0L
  private var failedOps = 0L
  private val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  private val labels = mutable.LinkedHashMap.empty[String, Double]
  private val gateErrors = mutable.ArrayBuffer.empty[String]

  def attempted: Long = synchronized(attemptedOps)
  def failed: Long = synchronized(failedOps)

  /** Runs one op. An op that throws, or whose result fails `check`, counts
    * as failed and yields None: its time is never recorded, so a failure
    * can't read as a fast op. Otherwise yields the result and its seconds. */
  def op[T](what: String)(body: => T)(check: T => Boolean): Option[(T, Double)] = {
    synchronized(attemptedOps += 1)
    val t0 = System.nanoTime()
    val r = try Right(body) catch { case NonFatal(e) => Left(e) }
    val dt = (System.nanoTime() - t0) / 1e9
    r match {
      case Right(v) if check(v) => Some((v, dt))
      case Right(_) =>
        synchronized(failedOps += 1)
        System.err.println(s"[perfbench] $what: result failed its check")
        None
      case Left(e) =>
        synchronized(failedOps += 1)
        System.err.println(s"[perfbench] $what failed: $e")
        None
    }
  }

  def metric(name: String, value: Double, unit: String): Unit =
    synchronized(metrics(name) = (value, unit))

  def label(name: String, value: Double): Unit = synchronized(labels(name) = value)

  /** Records Bench's calibration spin for a phase (a label, not a metric). */
  def calib(phase: String): Unit = label(s"calib_ms.$phase", Session.calibMs())

  def gate(result: Option[String]): Unit = result.foreach { msg =>
    synchronized(gateErrors += msg)
    System.err.println(s"[perfbench] GATE FAILED: $msg")
  }

  def correct: Boolean = synchronized(gateErrors.isEmpty)

  def json: String = synchronized {
    def num(v: Double) = if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString
    val ms = metrics.map { case (k, (v, u)) => s"${Run.jsonString(k)}:{\"value\":${num(v)},\"unit\":${Run.jsonString(u)}}" }
    val ls = labels.map { case (k, v) => s"${Run.jsonString(k)}:${num(v)}" }
    s"""{"correct":$correct,"attempted":$attemptedOps,"failed":$failedOps,""" +
      s""""metrics":${ms.mkString("{", ",", "}")},"labels":${ls.mkString("{", ",", "}")},""" +
      s""""gate_errors":${gateErrors.map(Run.jsonString).mkString("[", ",", "]")}}"""
  }
}

object Run {
  /** A JSON string literal: quotes, backslashes and control characters
    * escaped. */
  def jsonString(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** Nearest-rank percentile of unsorted samples (0 when empty). */
  def percentile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      s(math.min(s.size - 1, math.max(0, math.ceil(q * s.size).toInt - 1)))
    }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  /** The JVM's peak resident set (VmHWM), in MB. */
  def peakRssMb(): Double = {
    val status = java.nio.file.Paths.get("/proc/self/status")
    val hwm =
      if (java.nio.file.Files.exists(status))
        scala.io.Source.fromFile(status.toFile).getLines()
          .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0)
      else None
    hwm.getOrElse(Runtime.getRuntime.totalMemory() / 1048576.0)
  }

  /** Total collection time of all JVM collectors so far, in seconds. */
  def gcSeconds(): Double = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum / 1000.0
  }

  /** Bytes of all regular files under a directory. */
  def dirBytes(dir: String): Long = {
    val p = java.nio.file.Paths.get(dir)
    if (!java.nio.file.Files.exists(p)) 0L
    else {
      val s = java.nio.file.Files.walk(p)
      try s.filter(java.nio.file.Files.isRegularFile(_))
        .mapToLong(java.nio.file.Files.size(_)).sum()
      finally s.close()
    }
  }
}

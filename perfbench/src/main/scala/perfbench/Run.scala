package perfbench

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** One timed operation as the client saw it. */
final case class OpSample(kind: String, what: String, ms: Double, cpuMs: Double, ok: Boolean)

/** State of one benchmark run: the closed-loop client's samples, its
  * failures with their causes, and the tracer. One client thread issues
  * every operation and waits for it before sending the next. */
final class Run(val spark: SparkSession, val tracer: Tracer, val seed: Long,
    val tiny: Boolean) {
  val samples = mutable.ArrayBuffer.empty[OpSample]
  val units = mutable.ArrayBuffer.empty[(Double, Boolean)]
  val failures = mutable.ArrayBuffer.empty[String]
  val setupErrors = mutable.ArrayBuffer.empty[String]
  val info = mutable.LinkedHashMap.empty[String, Any]
  /** Timings of named steps inside operations, e.g. one table open. */
  val steps = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  /** While warming up, operations are run and checked but not sampled;
    * a failure then is a set-up error. */
  var warming = false
  /** Result rows the timed operations returned. */
  var resultRows = 0.0

  def addRows(n: Double): Unit = if (!warming) {
    resultRows += n
    tracer.attr("result_rows", n)
  }

  def attempted: Int = samples.size
  def failed: Int = samples.count(!_.ok)

  private def describe(e: Throwable): String =
    s"${e.getClass.getName}: ${Option(e.getMessage).getOrElse("").linesIterator
      .toSeq.headOption.getOrElse("").take(300)}"

  /** Times one operation end to end and then checks its output with
    * `check` (outside the timed interval). An exception or a failed check
    * makes the operation count as failed, with its cause recorded. */
  def op[T](kind: String, what: => String)(body: => T)(
      check: T => Option[String]): Option[T] = {
    val c0 = Run.cpuNs
    val t0 = System.nanoTime()
    val out = try Right(tracer.op(kind)(body)) catch { case NonFatal(e) => Left(e) }
    val ms = (System.nanoTime() - t0) / 1e6
    val cpuMs = (Run.cpuNs - c0) / 1e6
    val verdict = out match {
      case Left(e) => Some(describe(e))
      case Right(v) =>
        try check(v) catch { case NonFatal(e) => Some("check threw " + describe(e)) }
    }
    if (warming) verdict.foreach(v => setupErrors += s"warm-up $kind $what: $v")
    else {
      samples += OpSample(kind, what, ms, cpuMs, verdict.isEmpty)
      verdict.foreach(v => failures += s"$kind $what: $v")
    }
    out.toOption
  }

  /** Marks the most recent operation failed (a check that can only run
    * after a later step, such as a table's final fingerprint). */
  def failLast(why: String): Unit = if (warming) setupErrors += why else {
    val i = samples.size - 1
    if (i >= 0 && samples(i).ok) samples(i) = samples(i).copy(ok = false)
    failures += why
  }

  /** Set-up step whose failure invalidates the run. */
  def setupStep[T](what: String)(body: => T): T =
    try body catch {
      case NonFatal(e) => setupErrors += s"$what: ${describe(e)}"; throw e
    }

  /** Times a named step inside an operation and records it as a span. */
  def step[T](name: String)(body: => T): T = {
    val (v, ms) = timeMs(tracer.span(name)(body))
    if (!warming) steps.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += ms
    v
  }

  def timeMs[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val v = body
    (v, (System.nanoTime() - t0) / 1e6)
  }
}

object Run {
  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** CPU time of the whole JVM (driver and executor threads alike). */
  def cpuNs: Long = os.getProcessCpuTime
}

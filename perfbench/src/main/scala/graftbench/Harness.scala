package graftbench

import org.apache.spark.sql.SparkSession

import scala.collection.mutable

/** One timed public call: `items` counts its work in `unit` (queries,
  * docs, rows or calls); `kind` is the name plus the call's position among
  * the calls of that name in its cycle, so the same call of every cycle
  * shares a kind; `span` is set when the call was traced. */
final case class Sample(name: String, kind: String, unit: String, ms: Double, items: Long,
                        span: Option[Span])

/** Drives the timed phase of a workload: times each public call, checks
  * its answer, counts failures and, in traced mode, wraps every call of
  * alternate cycles in a span (the other cycles run untraced, which gives
  * the tracing overhead from the same run). */
final class Harness(val spark: SparkSession, val tracer: Option[Tracer]) {
  val samples = mutable.ArrayBuffer.empty[Sample]
  val failures = mutable.ArrayBuffer.empty[String]
  val recalls = mutable.ArrayBuffer.empty[Double]
  val extras = mutable.LinkedHashMap.empty[String, Double]
  var attempted = 0L
  var failed = 0L
  private var tracedCycle = false
  private val seen = mutable.HashMap.empty[String, Int]
  var cycles = 0
  var tracedCycles = 0

  def tracing: Boolean = tracer.isDefined && tracedCycle

  /** Time `f`; then, untimed, `check` its answer. An exception or a false
    * check counts as a failed op. Returns the answer when there was one. */
  def call[T](name: String, unit: String, items: Long)(f: => T)(check: T => Boolean): Option[T] = {
    attempted += 1
    val occ = seen.getOrElse(name, 0)
    seen(name) = occ + 1
    val kind = s"$name#$occ"
    def timed(): (T, Double) = {
      val t0 = System.nanoTime()
      val r = f
      (r, (System.nanoTime() - t0) / 1e6)
    }
    val out =
      try {
        if (tracing) {
          val ((r, ms), s) = tracer.get.span(name, name.takeWhile(_ != '.'))(timed())
          samples += Sample(name, kind, unit, ms, items, Some(s))
          Some(r)
        } else {
          val (r, ms) = timed()
          samples += Sample(name, kind, unit, ms, items, None)
          Some(r)
        }
      } catch {
        case e: Throwable if scala.util.control.NonFatal(e) =>
          failed += 1
          failures += s"$name threw ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(200)}"
          None
      }
    if (out.isDefined) Harness.note(f"call $name ${samples.last.ms}%.1f ms")
    out.foreach { r =>
      val ok = try check(r) catch {
        case e: Throwable if scala.util.control.NonFatal(e) =>
          failures += s"$name check threw ${e.getClass.getSimpleName}: ${e.getMessage}"; false
      }
      if (!ok) {
        failed += 1
        failures += s"$name answered wrong"
      }
    }
    out
  }

  /** Runs `n` cycles; in traced mode odd cycles are traced. */
  def loop(n: Int)(cycle: Int => Unit): Unit = {
    while (cycles < n) {
      tracedCycle = tracer.isDefined && cycles % 2 == 1
      if (tracedCycle) tracedCycles += 1
      seen.clear()
      cycle(cycles)
      cycles += 1
    }
    tracedCycle = false
  }

  def untracedSamples: Seq[Sample] = samples.filter(_.span.isEmpty).toSeq
  def tracedSamples: Seq[Sample] = samples.filter(_.span.isDefined).toSeq
}

object Kinds {
  /** Median latency of each call kind, in ms. A slow burst on the host that
    * hits one cycle moves a kind's median far less than a pooled quantile
    * over calls whose costs differ by 50x. */
  def medians(ss: Seq[Sample]): Map[String, Double] =
    ss.groupBy(_.kind).map { case (k, xs) => k -> Stats.median(xs.map(_.ms)) }

  /** Typical call latency: geometric mean over kinds of each kind's median,
    * so every kind weighs the same whatever its absolute cost. */
  def latencyMs(ss: Seq[Sample]): Double = {
    val m = medians(ss).values
    if (m.isEmpty) Double.NaN else math.exp(m.map(math.log).sum / m.size)
  }

  /** Calls per second of a cycle rebuilt from the kind medians: every call
    * of the timed phase charged at its kind's median. */
  def opsPerS(ss: Seq[Sample]): Double = {
    val m = medians(ss)
    ss.length * 1000.0 / math.max(1e-9, ss.map(s => m(s.kind)).sum)
  }
}

object Harness {
  /** Progress line on stderr, stamped with seconds since JVM start. */
  def note(msg: String): Unit = System.err.println(
    f"[graftbench ${java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1000.0}%.1fs] $msg")
}

object Stats {
  /** Percentile with linear interpolation between order statistics
    * (q in [0, 1]), steadier than nearest rank on small samples. */
  def pct(xs: Seq[Double], q: Double): Double = {
    if (xs.isEmpty) return Double.NaN
    val s = xs.sorted
    val pos = q * (s.length - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(s.length - 1, lo + 1)
    s(lo) + (pos - lo) * (s(hi) - s(lo))
  }
  def median(xs: Seq[Double]): Double = {
    if (xs.isEmpty) return Double.NaN
    val s = xs.sorted; val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }
  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) Double.NaN else xs.sum / xs.length
}

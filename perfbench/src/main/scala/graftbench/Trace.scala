package graftbench

import org.apache.spark.BenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** One traced public call and everything Spark did on its behalf. */
final class Span(val id: Int, val name: String, val layer: String, val startNs: Long) {
  @volatile var endNs: Long = 0L
  var jobs = 0
  var stages = 0
  var tasks = 0
  var planningMs = 0.0
  var queries = 0
  var execRunMs = 0.0
  var execCpuMs = 0.0
  var gcMs = 0.0
  var shuffleWriteB = 0L
  var shuffleReadB = 0L
  var spillB = 0L
  // [start, end] wall intervals (ms since epoch) of this span's jobs
  val jobIntervals = mutable.HashMap.empty[Int, (Long, Long)]

  def wallMs: Double = (endNs - startNs) / 1e6

  /** Wall time covered by at least one running job. */
  def jobCoveredMs: Double = {
    val iv = jobIntervals.values.filter(_._2 > 0).toSeq.sortBy(_._1)
    var covered = 0L; var curS = -1L; var curE = -1L
    iv.foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) covered += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) covered += curE - curS
    covered.toDouble
  }

  def schedGapMs: Double = math.max(0.0, wallMs - jobCoveredMs)

  def toJson: String = {
    Json.obj(Seq(
      "id" -> id.toString, "name" -> Json.str(name), "layer" -> Json.str(layer),
      "wall_ms" -> Json.num(wallMs),
      "jobs" -> jobs.toString, "stages" -> stages.toString, "tasks" -> tasks.toString,
      "sql_queries" -> queries.toString, "planning_ms" -> Json.num(planningMs),
      "job_covered_ms" -> Json.num(jobCoveredMs), "sched_gap_ms" -> Json.num(schedGapMs),
      "exec_run_ms" -> Json.num(execRunMs), "exec_cpu_ms" -> Json.num(execCpuMs),
      "gc_ms" -> Json.num(gcMs), "shuffle_write_bytes" -> shuffleWriteB.toString,
      "shuffle_read_bytes" -> shuffleReadB.toString, "spill_bytes" -> spillB.toString))
  }
}

/** Traces public calls from outside the engine: a span per call, one
  * `setJobGroup` per span, and a SparkListener plus a
  * QueryExecutionListener that charge jobs, stages, tasks, planning time,
  * executor time, shuffle bytes, spill and GC to the span whose job group
  * caused them. Spans are kept in memory and written out at the end. */
final class Tracer(spark: SparkSession) {
  private val sc = spark.sparkContext
  private val groupPrefix = "graftbench-span-"
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val byId = new ConcurrentHashMap[Int, Span]()
  private val jobSpan = new ConcurrentHashMap[Int, Span]()
  private val stageSpan = new ConcurrentHashMap[Int, Span]()
  @volatile private var open: Span = null

  private def spanOfGroup(g: String): Span =
    if (g == null || !g.startsWith(groupPrefix)) null
    else byId.get(g.substring(groupPrefix.length).toInt)

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val s = spanOfGroup(Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull)
      if (s != null) s.synchronized {
        jobSpan.put(e.jobId, s)
        e.stageIds.foreach(st => stageSpan.put(st, s))
        s.jobs += 1
        s.jobIntervals(e.jobId) = (e.time, 0L)
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      val s = jobSpan.remove(e.jobId)
      if (s != null) s.synchronized {
        val (st, _) = s.jobIntervals.getOrElse(e.jobId, (e.time, 0L))
        s.jobIntervals(e.jobId) = (st, e.time)
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val s = stageSpan.get(e.stageInfo.stageId)
      if (s != null) s.synchronized { s.stages += 1 }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val s = stageSpan.get(e.stageId)
      val m = e.taskMetrics
      if (s != null && m != null) s.synchronized {
        s.tasks += 1
        s.execRunMs += m.executorRunTime
        s.execCpuMs += m.executorCpuTime / 1e6
        s.gcMs += m.jvmGCTime
        s.shuffleWriteB += m.shuffleWriteMetrics.bytesWritten
        s.shuffleReadB += m.shuffleReadMetrics.totalBytesRead
        s.spillB += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  // Query-execution callbacks carry no job group; they arrive on the bus
  // while the span is open because every span is drained before it closes
  // and the bus is drained before the next one opens.
  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(qe)
    private def record(qe: QueryExecution): Unit = {
      val s = open
      if (s != null) {
        val ms = qe.tracker.phases.values.map(_.durationMs).sum.toDouble
        s.synchronized { s.planningMs += ms; s.queries += 1 }
      }
    }
  }

  sc.addSparkListener(listener)
  spark.listenerManager.register(qeListener)

  def drain(): Unit = BenchBus.drain(sc)

  /** Runs `f` inside a span; the caller's timing of `f` excludes the
    * drains, which happen before the span opens and after it closes. */
  def span[T](name: String, layer: String)(f: => T): (T, Span) = {
    drain()
    val s = new Span(spans.length, name, layer, System.nanoTime())
    spans += s
    byId.put(s.id, s)
    open = s
    sc.setJobGroup(groupPrefix + s.id, name, interruptOnCancel = false)
    try {
      val r = f
      s.endNs = System.nanoTime()
      (r, s)
    } finally {
      if (s.endNs == 0L) s.endNs = System.nanoTime()
      sc.clearJobGroup()
      drain()
      open = null
    }
  }

  def close(): Unit = {
    drain()
    sc.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
  }

  def toJson: String = spans.map(_.toJson).mkString("[\n", ",\n", "\n]")
}

/** Minimal JSON rendering for the benchmark's own output. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else java.lang.Double.toString(d)
  def obj(kv: Iterable[(String, String)]): String =
    kv.map { case (k, v) => str(k) + ": " + v }.mkString("{", ", ", "}")
  def arr(vs: Iterable[String]): String = vs.mkString("[", ", ", "]")
}

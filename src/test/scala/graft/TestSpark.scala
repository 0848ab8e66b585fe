package graft

import org.apache.spark.sql.SparkSession

/** One shared session for the whole test JVM. */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

/** What a block of driver code made Spark do: its jobs (through a job
  * group and the status tracker) and the executed plans of its SQL
  * actions (through a query-execution listener). Both event streams are
  * asynchronous but ordered, so each waits for a marker action run after
  * the block. */
object SparkProbe extends org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {
  import java.util.concurrent.ConcurrentLinkedQueue
  import java.util.concurrent.atomic.AtomicLong
  import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
  import org.apache.spark.sql.util.QueryExecutionListener
  import scala.jdk.CollectionConverters._

  private lazy val spark = TestSpark.spark
  private val calls = new AtomicLong

  private def await(done: => Boolean): Unit = {
    val deadline = System.nanoTime() + 30L * 1000000000L
    while (!done && System.nanoTime() < deadline) Thread.sleep(10)
    assert(done, "marker event did not arrive within 30 s")
  }

  /** The number of Spark jobs `body` runs. */
  def jobs(body: => Unit): Int = {
    val sc = spark.sparkContext
    val group = s"spark-probe-${calls.incrementAndGet()}"
    def inGroup(g: String)(f: => Unit): Unit = { sc.setJobGroup(g, g); try f finally sc.clearJobGroup() }
    inGroup(group)(body)
    inGroup(s"$group-marker")(sc.parallelize(Seq(1), 1).count())
    await(sc.statusTracker.getJobIdsForGroup(s"$group-marker").nonEmpty)
    sc.statusTracker.getJobIdsForGroup(group).length
  }

  /** The executed plans of the SQL actions `body` runs, in order. */
  def plans(body: => Unit): Seq[SparkPlan] = {
    val marker = s"spark_probe_marker_${calls.incrementAndGet()}"
    val seen = new ConcurrentLinkedQueue[QueryExecution]
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = seen.add(qe)
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    def isMarker(qe: QueryExecution): Boolean = qe.analyzed.output.exists(_.name == marker)
    spark.listenerManager.register(listener)
    try {
      body
      spark.range(1).toDF(marker).collect()
      await(seen.asScala.exists(isMarker))
    } finally spark.listenerManager.unregister(listener)
    seen.asScala.toSeq.takeWhile(!isMarker(_)).map(_.executedPlan)
  }

  /** The partition directories each parquet scan of `body` opened whose
    * root path ends in `root` (a `partitionBy` read's pruned count). */
  def partitionsRead(root: String)(body: => Unit): Seq[Long] =
    plans(body).flatMap(plan => collect(plan) {
      case s: org.apache.spark.sql.execution.FileSourceScanExec
          if s.relation.location.rootPaths.exists(_.toString.endsWith(root)) =>
        s.metrics("numPartitions").value
    })
}

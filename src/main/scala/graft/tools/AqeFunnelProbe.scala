package graft.tools

import org.apache.spark.sql.SparkSession

/** Round-17 attribution probe (guide §1 / §7.2): the per-run cost of the
  * batch-bounded incremental funnels (dedup_incremental_durable runs 24
  * Spark jobs per warm run at sf0.1) is hypothesized to be DRIVER-ROUND
  * overhead — AQE materializes every exchange of the tiny funnel as its
  * own job — not data volume. This probe times the same gates warm, in ONE
  * JVM, alternating spark.sql.adaptive.enabled per run block, so host
  * drift cannot masquerade as a config effect (same-JVM alternation).
  * Usage: runMain graft.tools.AqeFunnelProbe [sfDir] [gate,gate,...]
  */
object AqeFunnelProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val gates =
      if (args.length > 1) args(1).split(",").toSeq
      else Seq("dedup_incremental_durable", "containment_incremental",
        "dedup_semantic_incremental", "dedup_embedding_incremental")
    val spark = SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    sc.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    })
    gates.foreach { gate =>
      val fn = graft.SparkEntry.queries(gate)
      fn(spark, sfDir).count() // warm-up: pays memoized index builds + codegen
      // interleave arms: on, off, on, off, ... 3 runs each
      val walls = collection.mutable.Map("true" -> List.empty[Double],
        "false" -> List.empty[Double])
      val jobCounts = collection.mutable.Map("true" -> 0, "false" -> 0)
      (1 to 6).foreach { i =>
        val arm = if (i % 2 == 1) "true" else "false"
        spark.conf.set("spark.sql.adaptive.enabled", arm)
        val j0 = jobs.get()
        val t0 = System.nanoTime()
        fn(spark, sfDir).count()
        val dt = (System.nanoTime() - t0) / 1e9
        walls(arm) = dt :: walls(arm)
        jobCounts(arm) = jobs.get() - j0
      }
      spark.conf.set("spark.sql.adaptive.enabled", "true")
      def med(xs: List[Double]) = xs.sorted.apply(xs.size / 2)
      println(f"[aqeprobe] $gate aqeOn: med=${med(walls("true"))}%.3f s " +
        f"jobs=${jobCounts("true")} runs=${walls("true").map(w => f"$w%.2f").mkString(",")} | " +
        f"aqeOff: med=${med(walls("false"))}%.3f s jobs=${jobCounts("false")} " +
        f"runs=${walls("false").map(w => f"$w%.2f").mkString(",")}")
    }
    spark.stop()
  }
}

package graftbench

import org.apache.spark.sql.SparkSession

import java.nio.file.{Files, Paths}
import scala.collection.mutable

/** One component of a workload: its constructor is the set-up (seeded
  * inputs, ingest, index builds); `cycle` runs its share of one timed
  * cycle. */
trait Part {
  /** Build times of the layers this part set up, in seconds. */
  def builds: Map[String, Double]
  def cycle(h: Harness, i: Int): Unit
  /** Traced runs only: layer figures measured after the timed phase. */
  def probes(h: Harness): Map[String, Double] = Map.empty
}

/** A workload: its parts, set up together and run cycle by cycle. */
final case class Workload(name: String, parts: (SparkSession, Gen) => Seq[Part])

object Main {
  val workloads: Seq[Workload] = Seq(
    Workload("bulk", (s, g) => Seq(new BatchSearch(s, g))),
    Workload("point", (s, g) => Seq(new PointApi(s, g), new DedupPipeline(s, g))))

  /** End-to-end metrics: name → unit. Every run with --trace 0 prints all. */
  val endToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "latency_ms" -> "ms", "ops_per_s" -> "1/s",
    "recall_at_10" -> "fraction", "cached_mb" -> "MiB")

  /** Per-layer metrics: name → unit. Every run with --trace 1 prints all;
    * a layer a workload does not run reads 0 there. */
  val perLayer: Seq[(String, String)] = Seq(
    "spark.planning_ms_per_op" -> "ms", "spark.jobs_per_op" -> "count",
    "spark.stages_per_op" -> "count", "spark.tasks_per_op" -> "count",
    "spark.sched_gap_ms_per_op" -> "ms", "spark.exec_run_ms_per_op" -> "ms",
    "spark.exec_cpu_ms_per_op" -> "ms", "spark.shuffle_write_mb_per_op" -> "MiB",
    "spark.shuffle_read_mb_per_op" -> "MiB", "spark.spill_mb_per_op" -> "MiB",
    "spark.gc_ms_per_op" -> "ms",
    "facade.queryVector.flat_ms" -> "ms", "facade.queryVector.ivfpq_ms" -> "ms",
    "facade.queryVector.hnsw_ms" -> "ms", "facade.queryText_ms" -> "ms",
    "facade.hybridSearch_ms" -> "ms", "facade.queryMetadata_ms" -> "ms",
    "facade.getDocument_ms" -> "ms", "facade.hybridSearchBatch_ms" -> "ms",
    "facade.add_ms" -> "ms", "facade.add_growth" -> "ratio",
    "vector.exact_batch_ms" -> "ms", "vector.sq8_batch_ms" -> "ms",
    "vector.ivf_batch_ms" -> "ms", "vector.rpq_batch_ms" -> "ms",
    "vector.sq8_build_s" -> "s", "vector.ivf_build_s" -> "s",
    "vector.rpq_build_s" -> "s", "vector.graph_build_s" -> "s",
    "vector.ivf_scanned_frac" -> "fraction", "vector.rpq_exact_candidates" -> "count",
    "vector.sq8_candidate_frac" -> "fraction",
    "text.bm25_build_s" -> "s", "text.bm25_batch_ms" -> "ms", "text.bm25_score_ms" -> "ms",
    "dedup.minhash_s" -> "s", "dedup.components_s" -> "s",
    "dedup.jaccard_incremental_ms" -> "ms", "dedup.semantic_drop_s" -> "s",
    "dedup.jaccard_index_build_s" -> "s", "dedup.dup_recall" -> "fraction",
    "expr.squaredl2_mpairs_per_s" -> "Mpairs/s", "expr.sqdeq_mpairs_per_s" -> "Mpairs/s",
    "expr.adc_mpairs_per_s" -> "Mpairs/s", "plans.topk_mrows_per_s" -> "Mrows/s",
    "trace.latency_overhead" -> "fraction",
    "trace.traced_ops" -> "count")

  final case class Args(workload: String = "", seed: Long = 1L, seconds: Double = 10,
                        trace: Boolean = false, commit: String = "unknown",
                        selftest: Boolean = false)

  /** --seconds buys one timed cycle per this many seconds, at least three,
    * so every call kind has three timed samples or more (a cycle takes
    * 8–16 s on a 4-core host). */
  val cycleSeconds = 10.0

  /** Per-run reports (result, run context, spans), relative to the checkout. */
  val reportDir = ".bench_build/reports"

  def parse(a: List[String], acc: Args = Args()): Args = a match {
    case "--workload" :: v :: t => parse(t, acc.copy(workload = v))
    case "--seed" :: v :: t => parse(t, acc.copy(seed = v.toLong))
    case "--seconds" :: v :: t => parse(t, acc.copy(seconds = v.toDouble))
    case "--trace" :: v :: t => parse(t, acc.copy(trace = v == "1"))
    case "--commit" :: v :: t => parse(t, acc.copy(commit = v))
    case "--selftest" :: t => parse(t, acc.copy(selftest = true))
    case Nil => acc
    case other => throw new IllegalArgumentException(s"unknown arguments: ${other.mkString(" ")}")
  }

  def loadavg(): String =
    try new String(Files.readAllBytes(Paths.get("/proc/loadavg"))).trim.split(" ").take(3).mkString(" ")
    catch { case _: Exception => "unknown" }

  /** (steal, total) jiffies of all CPUs from /proc/stat: time the
    * hypervisor gave another guest, which shows a loaded host. */
  def cpuTimes(): (Long, Long) =
    try {
      val f = new String(Files.readAllBytes(Paths.get("/proc/stat"))).linesIterator.next()
        .split("\\s+").drop(1).map(_.toLong)
      (if (f.length > 7) f(7) else 0L, f.take(8).sum)
    } catch { case _: Exception => (0L, 0L) }

  def sparkCores: Int = math.max(1, Runtime.getRuntime.availableProcessors() - 1)

  def session(): SparkSession = {
    // one core is left to the client (driver) thread, the JIT compilers and
    // the collector: with a task thread per core they fought the executor
    // threads, and five runs of bulk spread 16% instead of 4%, no faster
    val cpus = sparkCores
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(argv: Array[String]): Unit = {
    val args = parse(argv.toList)
    if (args.selftest) { sys.exit(if (SelfTest.run(session())) 0 else 1) }
    val w = workloads.find(_.name == args.workload).getOrElse(
      throw new IllegalArgumentException(s"unknown workload '${args.workload}'; " +
        s"known: ${workloads.map(_.name).mkString(", ")}"))
    val load0 = loadavg()
    val cpu0 = cpuTimes()
    val spark = session()
    Harness.note("session ready")
    val tracer = if (args.trace) Some(new Tracer(spark)) else None
    val result = runWorkload(w, spark, tracer, args)
    val cpu1 = cpuTimes()
    val info = result._2 ++ Seq(
      "loadavg_start" -> Json.str(load0), "loadavg_end" -> Json.str(loadavg()),
      "cpu_steal_frac" -> Json.num((cpu1._1 - cpu0._1).toDouble / math.max(1L, cpu1._2 - cpu0._2)))
    val infoJson = Json.obj(info)
    System.out.println("info " + infoJson)
    val dir = Paths.get(reportDir)
    Files.createDirectories(dir)
    val base = s"${w.name}-seed${args.seed}-trace${if (args.trace) 1 else 0}"
    Files.write(dir.resolve(base + ".json"), (Json.obj(Seq(
      "info" -> infoJson, "result" -> result._1) ++
      tracer.map(t => "spans" -> t.toJson)) + "\n").getBytes("UTF-8"))
    tracer.foreach(_.close())
    System.out.println(result._1)
    System.out.flush()
    spark.stop()
  }

  /** Runs one workload; returns (result line, info fields). */
  def runWorkload(w: Workload, spark: SparkSession, tracer: Option[Tracer],
                  args: Args): (String, Seq[(String, String)]) = {
    val gen = new Gen(args.seed)
    val (parts, setupS) = Common.timeS(w.parts(spark, gen))
    Harness.note(f"set-up done in $setupS%.1f s; builds (s): " +
      parts.flatMap(_.builds).map { case (k, v) => f"$k $v%.2f" }.mkString(", "))
    // Untraced runs time every cycle from the first: the per-kind median
    // over three cycles or more drops a cold first call, and an untimed
    // warm-up cycle in front made the figures no steadier for a cycle of
    // wall. Traced runs compare traced with untraced cycles, so they warm up
    // with one untimed cycle first.
    val warm = new Harness(spark, None)
    if (tracer.isDefined) {
      warm.loop(1) { i => parts.foreach(_.cycle(warm, i)) }
      Harness.note("warm-up cycle done")
    }
    val h = new Harness(spark, tracer)
    // the work of a run is fixed by --seconds, never by how fast the clock
    // runs out, so a faster program does the same calls (and appends) as a
    // slower one. Traced runs alternate untraced / traced / untraced, so
    // state that grows from cycle to cycle brackets the traced cycles.
    h.loop(math.max(3, math.round(args.seconds / cycleSeconds).toInt)) { i =>
      parts.foreach(_.cycle(h, warm.cycles + i))
    }
    Harness.note(s"timed phase done: ${h.cycles} cycles")
    val cached = Common.cachedMb(spark)
    val probes = if (tracer.isDefined) parts.flatMap(_.probes(h)).toMap else Map.empty[String, Double]

    val un = h.untracedSamples
    val msU = un.map(_.ms)
    val e2e = Map(
      "setup_s" -> setupS,
      "latency_ms" -> Kinds.latencyMs(un),
      "ops_per_s" -> Kinds.opsPerS(un),
      "recall_at_10" -> Stats.mean(h.recalls.toSeq),
      "cached_mb" -> cached)

    val metrics: Seq[(String, Double, String)] =
      if (tracer.isEmpty) endToEnd.map { case (n, u) => (n, e2e(n), u) }
      else {
        val layer = layerMetrics(h, parts.flatMap(_.builds).toMap ++ probes)
        perLayer.map { case (n, u) => (n, layer.getOrElse(n, 0.0), u) }
      }
    val line = Json.obj(Seq(
      "correct" -> (if (h.failed == 0 && h.attempted > 0) "true" else "false"),
      "attempted" -> h.attempted.toString,
      "failed" -> h.failed.toString,
      "metrics" -> Json.obj(metrics.map { case (n, v, u) =>
        n -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u)))
      })))
    // work per second of timed wall, per unit of work (queries, docs, rows)
    val perUnit = un.filter(_.items > 0).groupBy(_.unit).toSeq.sortBy(_._1).map { case (u, ss) =>
      s"${u}_per_s" -> Json.num(ss.map(_.items).sum * 1000.0 / ss.map(_.ms).sum)
    }
    val info = Seq(
      "workload" -> Json.str(w.name), "seed" -> args.seed.toString,
      "trace" -> args.trace.toString, "seconds" -> Json.num(args.seconds),
      "nproc" -> Runtime.getRuntime.availableProcessors().toString,
      "spark_cores" -> sparkCores.toString,
      "xmx_mb" -> (Runtime.getRuntime.maxMemory / (1024 * 1024)).toString,
      "spark_version" -> Json.str(spark.version), "source" -> Json.str(args.commit),
      "cycles" -> h.cycles.toString, "traced_cycles" -> h.tracedCycles.toString,
      "latency_samples" -> msU.length.toString,
      "pooled_p50_ms" -> Json.num(Stats.median(msU)),
      "pooled_p90_ms" -> Json.num(Stats.pct(msU, 0.9)),
      "kind_median_ms" -> Json.obj(Kinds.medians(un).toSeq.sortBy(_._1).map { case (k, v) =>
        k -> Json.num(v) }),
      "work_per_s" -> Json.obj(perUnit),
      "failed_frac" -> Json.num(if (h.attempted == 0) 1.0 else h.failed.toDouble / h.attempted),
      "end_to_end" -> Json.obj(e2e.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.num(v) }),
      "extras" -> Json.obj(h.extras.map { case (k, v) => k -> Json.num(v) }),
      "failures" -> Json.arr(h.failures.take(20).map(Json.str)))
    (line, info)
  }

  /** Per-layer figures from the traced calls of a run. */
  def layerMetrics(h: Harness, fixed: Map[String, Double]): Map[String, Double] = {
    val tr = h.tracedSamples
    val spans = tr.flatMap(_.span)
    val n = math.max(1, spans.length).toDouble
    def per(f: Span => Double) = spans.map(f).sum / n
    val mb = 1024.0 * 1024.0
    val out = mutable.LinkedHashMap[String, Double](
      "spark.planning_ms_per_op" -> per(_.planningMs),
      "spark.jobs_per_op" -> per(_.jobs.toDouble),
      "spark.stages_per_op" -> per(_.stages.toDouble),
      "spark.tasks_per_op" -> per(_.tasks.toDouble),
      "spark.sched_gap_ms_per_op" -> per(_.schedGapMs),
      "spark.exec_run_ms_per_op" -> per(_.execRunMs),
      "spark.exec_cpu_ms_per_op" -> per(_.execCpuMs),
      "spark.shuffle_write_mb_per_op" -> per(_.shuffleWriteB / mb),
      "spark.shuffle_read_mb_per_op" -> per(_.shuffleReadB / mb),
      "spark.spill_mb_per_op" -> per(_.spillB / mb),
      "spark.gc_ms_per_op" -> per(_.gcMs),
      "trace.traced_ops" -> tr.length.toDouble)
    val seconds = Set("dedup.minhash", "dedup.components", "dedup.semantic_drop")
    tr.groupBy(_.name).foreach { case (name, ss) =>
      val m = Stats.median(ss.map(_.ms))
      if (seconds(name)) out(name + "_s") = m / 1000.0 else out(name + "_ms") = m
    }
    // per call kind, traced over untraced median latency; the median over
    // kinds damps kinds whose cost drifts from cycle to cycle
    val un = h.untracedSamples.groupBy(_.name)
    val ratios = tr.groupBy(_.name).toSeq.collect { case (name, ts) if un.contains(name) =>
      Stats.median(ts.map(_.ms)) / Stats.median(un(name).map(_.ms))
    }
    if (ratios.nonEmpty) out("trace.latency_overhead") = Stats.median(ratios) - 1.0
    out ++= h.extras
    out ++= fixed
    out.toMap
  }
}

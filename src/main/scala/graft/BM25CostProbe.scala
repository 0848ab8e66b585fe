package graft

import graft.text.BM25
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Measures incremental-BM25 per-batch cost vs the full rebuild
  * (r5 VERDICT #6; results recorded in SCALE.md). Dev harness like
  * Profile — not part of the driver contract.
  *
  * For each batch size: time `base.append(batch)` (statistics merge; the
  * scalars' vocabulary-sized aggregate runs eagerly inside) + one scored
  * query against the appended index, vs the reference-shaped full
  * rebuild over base ∪ batch + the same query. Args: [sfDir] [factor] —
  * factor id-shift-replicates the corpus so the rebuild's full-corpus
  * scan is visible over the fixed per-job overhead. */
object BM25CostProbe {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val factor = if (args.length > 1) args(1).toInt else 1
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val base0 = spark.read.parquet(s"$dir/documents.parquet")
    val nb = base0.count()
    val docs = (0 until math.max(1, factor)).map(k =>
        base0.select((col("doc_id") + lit(k * nb)).as("doc_id"), col("text")))
      .reduce(_ unionByName _).cache()
    val n = docs.count()
    val baseN = n / 2
    def timed[A](f: => A): (A, Double) = {
      val t0 = System.nanoTime(); val r = f; (r, (System.nanoTime() - t0) / 1e9)
    }
    def query(ix: BM25.Index): Unit = { ix.score(Queries.bm25Query).count(); () }
    // warm the base once; every append shares it (the steady-state shape)
    val base = BM25.build(docs.where(col("doc_id") < baseN), "doc_id", "text")
    query(base)
    println(s"[bm25cost] corpus $dir: $n docs, base $baseN")
    for (batch <- Seq(50L, 250L, 1000L, n - baseN)) {
      val b = docs.where(col("doc_id") >= baseN && col("doc_id") < baseN + batch)
      // both constructors force their aggregates eagerly, so the bare call
      // IS the maintenance cost: append materializes the batch's forward
      // rows + the vocabulary merge; build re-tokenizes and re-shuffles the
      // corpus. After the first append the base's vocabulary frame is
      // released, so later appends from the base recompute it from the
      // (cached) base forward rows.
      val (inc, tInc) = timed(base.append(b, "doc_id", "text"))
      val (_, tFull) = timed {
        val ix = BM25.build(docs.where(col("doc_id") < baseN + batch), "doc_id", "text")
        ix.dispose(); ix
      }
      val (_, tq) = timed(query(inc))
      println(f"[bm25cost] batch=$batch%5d  append = $tInc%5.2f s   full rebuild = $tFull%5.2f s   query-after-append = $tq%5.2f s")
      // NOT inc.dispose(): the appended index owns the shared base's
      // forward frame (chain dispose) and the next iteration reuses the
      // base; the probe JVM exits right after, so the delta frames lapse.
      val _ = inc
    }
    spark.stop()
  }
}

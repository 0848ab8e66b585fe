package graft

import graft.vector.IVFIndex
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** k-NN-graph recall/cost curve vs nprobe (r5 VERDICT #5): the knn_graph
  * GATE runs exact (nprobe = nlist, node-bounded); the 100 TB use runs
  * nprobe ≪ nlist over all nodes. This harness measures, for the same
  * node set, graph recall@k against the exact graph AND the candidate
  * volume the shuffle arm actually re-ranks (Σ probed-cluster sizes —
  * driver-computable from the held centroids' assignment counts), at ×1
  * and ×k Rademacher-replicated corpora (RecallCurve's scheme). The
  * volume column is the no-blowup evidence: candidates / (nodes × corpus)
  * = nprobe/nlist-ish, never 1.0. Dev harness like Profile — not part of
  * the driver contract; results recorded in SCALE.md.
  *
  * Args: [sfDir] [factor] [nNodes] [k]. */
object GraphRecallCurve {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val factor = if (args.length > 1) args(1).toInt else 1
    val nNodes = if (args.length > 2) args(2).toInt else 300
    val k = if (args.length > 3) args(3).toInt else 10
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    def signs(c: Int, dim: Int): Array[Double] = Array.tabulate(dim) { i =>
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s"scale_${c}_$i".getBytes("UTF-8"))
      if ((d(0) & 1) == 0) 1.0 else -1.0
    }

    val base = spark.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val emb =
      if (factor <= 1) base
      else (0 until factor).map { c =>
        val s = signs(c, 64)
        base.select((col("vec_id") + lit(c * 10000000L)).as("vec_id"),
          expr(s"transform(embedding, (x, i) -> cast(x as double) * element_at(array(${s.mkString(",")}), i + 1))")
            .cast("array<float>").as("embedding"))
      }.reduce(_ unionByName _)
    val cached = emb.persist(StorageLevel.MEMORY_AND_DISK)
    val n = cached.count()
    println(s"[graph] corpus $dir x$factor -> $n vectors; $nNodes nodes, k=$k")

    val ivf = IVFIndex.build(cached, "vec_id", "embedding", nlist = 100)
    val clusterSizes = ivf.assignments.groupBy(col("cluster")).count()
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val nodesFilter = Some(col("vec_id") < nNodes)
    val nodeVecs = cached.where(col("vec_id") < nNodes)
      .collect().map(r => r.getSeq[Float](1).map(_.toDouble).toArray)

    def graph(nprobe: Int): Map[Long, Set[Long]] =
      ivf.knnGraph(cached, "vec_id", "embedding", k, nprobe, nodesFilter = nodesFilter)
        .collect().groupBy(_.getLong(0))
        .view.mapValues(_.map(_.getLong(1)).toSet).toMap

    val exact = graph(ivf.nlist)
    for (nprobe <- Seq(1, 2, 5, 10, 25, 50, ivf.nlist).distinct) {
      val t0 = System.nanoTime()
      val g = graph(nprobe)
      val dt = (System.nanoTime() - t0) / 1e9
      val recall = exact.map { case (q, ids) =>
        g.getOrElse(q, Set.empty).intersect(ids).size.toDouble / ids.size
      }.sum / exact.size
      // the volume the shuffle arm re-ranks: Σ over nodes of probed-cluster
      // sizes (probe order is driver-computable from the held centroids)
      val cand = nodeVecs.map(q =>
        ivf.probeOrder(q).take(nprobe).map(c => clusterSizes.getOrElse(c, 0L)).sum).sum
      val frac = cand.toDouble / (nodeVecs.length.toLong * n)
      println(f"[graph] nprobe=$nprobe%3d/${ivf.nlist}  recall@$k = $recall%.3f  " +
        f"candidates = $cand%9d (${frac * 100}%5.1f%% of nodes x corpus)  ${dt}%6.2f s")
    }
    ivf.dispose()
    spark.stop()
  }
}

package graft.vector

import graft.plans.{KnnScorer, KnnTopK}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** IVF (inverted-file) approximate nearest neighbor — the Spark-native
  * realization of the reference's IVF-PQ coarse quantizer (faiss.IndexIVFPQ,
  * local_db.py:50–52) and the capability substitute for its HNSW index
  * (SURVEY §2.3-K5/K6: a data-parallel graph walk does not exist; IVF's
  * `nprobe` plays the `ef_search` recall-knob role).
  *
  * The index is data, not a live object: `centroids(cluster, centroid)`
  * (≤ nlist rows — driver-collectible by construction, the same way FAISS
  * keeps the coarse quantizer in RAM) and `assignments(id, cluster, vector)`
  * repartitioned by cluster. A probe ranks centroids driver-side (O(nlist)
  * scalar work), then scans only the `nprobe` nearest clusters — at scale,
  * with assignments written `partitionBy(cluster)`, that is partition-pruned
  * I/O, reading nprobe/nlist of the data.
  *
  * Training is sample-based Lloyd's on the driver (what FAISS does: the
  * coarse quantizer trains on a bounded sample, not the corpus) followed by
  * ONE distributed assignment pass — no per-iteration Spark jobs.
  *
  * The build replicates the reference's degrade ladder (local_db.py:86–111):
  * tiny corpora shrink the cluster count (`max(1, min(4, n/2))`), and
  * anything unclusterable falls back to a single cluster = effectively flat.
  */
final class IVFIndex(val centroids: Array[(Int, Array[Double])],
                     val assignments: DataFrame,
                     val nlist: Int,
                     private val retained: Seq[DataFrame] = Nil) {

  /** Releases every frame this index persisted (the build's assignment
    * pass plus any [[appendAssign]] fragments). Lazily-opened indexes
    * retain nothing. */
  def dispose(): Unit = retained.foreach(_.unpersist(blocking = false))

  /** Incremental maintenance (≙ hnsw `add_items` with explicit ids,
    * local_db.py:78–80): assign `batch` to the EXISTING centroids — no
    * retraining, no Lloyd pass, no touch of the already-assigned corpus —
    * and union it into the assignment frame. The batch is the only thing
    * scanned; cost ∝ |batch| × nlist. Assignment quality degrades gracefully
    * as the corpus drifts from the trained centroids (exactly FAISS's
    * contract for adding to a trained IVF index); rebuild to re-center. */
  def appendAssign(batch: DataFrame, idCol: String, vecCol: String): IVFIndex = {
    val centers = centroids.sortBy(_._1).map(_._2)
    val assigned = batch.select(col(idCol).cast("long").as("id"),
        col(vecCol).cast("array<float>").as("vector"),
        graft.expr.VectorExpr.nearestCentroid(col(vecCol), centers).cast("int").as("cluster"))
      .repartition(col("cluster"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    new IVFIndex(centroids,
      assignments.select(col("id").cast("long"), col("vector").cast("array<float>"),
        col("cluster").cast("int")).unionByName(assigned),
      nlist, retained :+ assigned)
  }

  /** Skew-DERIVED salt for [[knnGraph]]'s corpus-as-batch probed join
    * (r13 VERDICT #8 — the fixed 16-way salt was tuned to one
    * probe geometry and generalizes to neither a uniform corpus, where it
    * pays 16× probe replication for nothing, nor a corpus MORE skewed than
    * the probe). One ≤ nlist-row aggregation over the assignment frame
    * (cached per index — "one count per build", the autoBitsPerBand
    * discipline) estimates each cell's pair block as |c|² and picks the
    * smallest salt that brings the hottest block under the balanced
    * per-task share Σ|c|²/P: uniform histograms resolve to 1 (no
    * replication paid), Zipf-clustered ones to the actual skew ratio,
    * capped at the parallelism (finer splits than cores cannot help).
    * Results are bit-identical at any value; this only repartitions. */
  lazy val autoSaltBuckets: Int = {
    val p = math.max(1,
      assignments.sparkSession.sparkContext.defaultParallelism)
    val counts = assignments.groupBy(col("cluster")).count()
      .collect().map(_.getLong(1))
    val s = IVFIndex.saltForHistogram(counts, p)
    if (s > 1)
      System.err.println(s"[ivf.salt] skew-derived salt=$s " +
        s"(hottest cell ${if (counts.isEmpty) 0L else counts.max} of " +
        s"${counts.sum} rows across ${counts.length} cells, parallelism $p): " +
        "the probed candidate join splits the hot cell's pair block " +
        s"across $s tasks at ${s}x probe-row replication")
    s
  }

  /** Rank centroids by squared L2 to the query, driver-side. */
  def probeOrder(query: Array[Double]): Array[Int] =
    graft.expr.VecKernels.nearestClusters(query, centroids, centroids.length)

  /** ANN through the IVF probe, one query or N, as ONE distributed plan:
    * the fused [[graft.plans.KnnTopK]] operator scans the assignment frame
    * once with the query block broadcast. Each task computes every query's
    * probe set — its `nprobe` nearest centroids by squared L2, ties by
    * cluster id, the same set as [[probedCandidates]] and [[probeOrder]] —
    * and scores a (row, query) pair only when the row's cell is in that
    * set, keeping one bounded heap per query. No candidate join, no pair
    * frame, no exchange: the heaps merge on the driver for a `collect`.
    * `restrict` narrows the corpus below the operator: an id allow-list
    * and/or a cell set ([[probedCells]] of the block), which on an
    * [[IVFIndex.open]]ed index prunes the unprobed `cluster=` directories.
    * Output contract matches [[ExactKNN.topKBatch]]: (qid, id, score)
    * ordered (qid, score desc, id), exact within the probed clusters;
    * nprobe = nlist recovers the exact batch scan bit-for-bit. */
  def searchBatch(queries: DataFrame, qidCol: String, qvecCol: String,
                  k: Int, nprobe: Int,
                  metric: ExactKNN.Metric = ExactKNN.L2Sq,
                  restrict: KnnTopK.Restrict = KnnTopK.Restrict.none): DataFrame =
    KnnTopK(
      restrict(assignments).select(col("id"), col("vector"), col("cluster").cast("int").as("cluster")),
      queries.select(col(qidCol).as("qid"), col(qvecCol).as("qv")),
      k, KnnScorer.IvfCells(metric, centroids, nprobe))

  /** The cells a block of query vectors probes at `nprobe` (None: all). */
  def probedCells(queries: Seq[Array[Double]], nprobe: Int): Option[Seq[Int]] =
    KnnScorer.IvfCells(ExactKNN.L2Sq, centroids, nprobe).probedCells(queries)

  /** Exact top-k over the `nprobe` nearest clusters only: [[searchBatch]]
    * over the block of one, reading only the probed cells. Output:
    * (id, score), score = 1/(1+d²) for L2Sq. */
  def search(query: Array[Double], k: Int, nprobe: Int,
             metric: ExactKNN.Metric = ExactKNN.L2Sq): DataFrame =
    searchBatch(KnnTopK.block(assignments.sparkSession, Seq((0L, query))), "qid", "qv", k,
      nprobe, metric, KnnTopK.Restrict(cells = probedCells(Seq(query), nprobe)))
      .select(col("id"), col("score"))

  /** The probe-restricted candidate pairs as a frame — the scan-volume
    * diagnostic: each query's `nprobe` nearest centroids (broadcast +
    * bounded heaps), candidates through ONE equi-join against the
    * cluster-partitioned assignment frame with the probe rows broadcast.
    * Output keeps (qid, __qv, cluster) plus every assignment column
    * (id, vector). */
  def probedCandidates(queries: DataFrame, qidCol: String, qvecCol: String,
                       nprobe: Int): DataFrame =
    assignments.join(broadcast(probeRows(queries, qidCol, qvecCol, nprobe)), Seq("cluster"))

  /** (qid, __qv, cluster) for each query's `nprobe` nearest clusters. */
  private def probeRows(queries: DataFrame, qidCol: String, qvecCol: String,
                        nprobe: Int): DataFrame = {
    val spark = queries.sparkSession
    import spark.implicits._
    val cents = centroids.toSeq.map { case (c, v) => (c, v.toSeq) }
      .toDF("cluster", "centroid")
    val q = queries.select(col(qidCol).as("qid"),
      col(qvecCol).cast("array<double>").as("__qv"))
    val ranked = q.crossJoin(broadcast(cents))
      .select(col("qid"), col("__qv"), col("cluster"),
        graft.expr.VectorExpr.squaredL2(col("__qv"), col("centroid")).as("__cd"))
    graft.plans.TopK.perKey(ranked, Seq("qid"),
        Seq("__cd" -> false, "cluster" -> false), math.max(1, nprobe))
      .select(col("qid"), col("__qv"), col("cluster"))
  }

  /** k-NN GRAPH over an embedding frame: every vector's k nearest OTHER
    * vectors — the all-corpus bulk-ANN composition that diversity
    * sampling, graph-based clustering and hubness analysis start from.
    * The corpus itself is the query side, so nothing broadcasts: each
    * node's probe rows meet the assignments on one shuffled cluster
    * equi-join, k+1 absorbs the guaranteed self-hit, then a bounded re-cut
    * after dropping self (exact: the true top-k-excluding-self is always
    * contained in the top-(k+1)-including-self). Exact at nprobe = nlist
    * (via [[IVFIndex.knnGraphExact]]); approximate below, like every
    * probe. `nodesFilter` restricts which vectors get edges (neighbors
    * still come from the WHOLE index) — the incremental shape (extend the
    * graph for a new node batch), and the cost dial: the exact full graph
    * is inherently |nodes| × corpus work.
    *
    * The join is salted by [[autoSaltBuckets]]: every node in a hot cell
    * meets that whole cell, so without it a clustered corpus puts one
    * cell's |cell|² pair block on a single task (measured round 13: the
    * 200 k graph build ran 7.6× slower on Zipf-clustered embeddings than
    * on uniform ones, ~3 cores busy). A salt s > 1 splits every cluster
    * key into s sub-keys (assignments salted by id hash, probe rows
    * replicated across all salts — the same candidate set, partitioned),
    * at s× probe-row cost; uniform corpora resolve to 1 and pay nothing.
    * Output: (qid, id, score) × k per qid. */
  def knnGraph(emb: DataFrame, idCol: String, vecCol: String,
               k: Int, nprobe: Int,
               metric: ExactKNN.Metric = ExactKNN.L2Sq,
               nodesFilter: Option[org.apache.spark.sql.Column] = None): DataFrame = {
    val src = nodesFilter.map(emb.where).getOrElse(emb)
    if (nprobe >= nlist)
      return IVFIndex.knnGraphExact(emb, src, idCol, vecCol, k, metric)
    val probed = probeRows(src, idCol, vecCol, nprobe)
    val salt = autoSaltBuckets
    val cand =
      if (salt <= 1) assignments.join(probed, Seq("cluster"))
      else assignments.withColumn("__salt", pmod(xxhash64(col("id")), lit(salt)).cast("int"))
        .join(probed.withColumn("__salt", explode(array((0 until salt).map(lit(_)): _*))),
          Seq("cluster", "__salt"))
        .drop("__salt")
    val res = graft.plans.TopK.perKey(
        cand.select(col("qid"), col("id"),
          metric.score(metric.dist(col("vector"), col("__qv"))).as("score")),
        Seq("qid"), Seq("score" -> true, "id" -> false), k + 1)
      .orderBy(col("qid").asc, col("score").desc, col("id").asc)
    graft.plans.TopK.perKey(res.where(col("qid") =!= col("id")),
        Seq("qid"), Seq("score" -> true, "id" -> false), k)
      .orderBy(col("qid").asc, col("score").desc, col("id").asc)
  }

}

object IVFIndex {

  /** Query rows per broadcast chunk of [[knnGraphExact]] — ~4 MB of
    * 64-dim doubles, far under any broadcast limit; deployments with
    * wider vectors scale it down. */
  val exactChunkRows = 8192

  /** The k-NN graph's EXACT arm (nprobe = nlist) as CHUNKED BROADCAST
    * scans (round 13, r12 VERDICT #8): probing every cluster makes the
    * cluster equi-join a semantic no-op, yet the probed plan still paid
    * for it at scale — the ×100 measurement (200 k nodes, 500-query
    * gate) showed the nprobe = nlist shuffle join collapsing onto
    * ≤ nlist(16) active tasks with 64-dim query vectors replicated
    * nlist× through the exchange (ScaleCurve r12: knn_graph warm 46.7 s,
    * 45× the ×10 number). This arm instead broadcasts the QUERY side in
    * ≤ [[exactChunkRows]]-row chunks (one chunk for bounded node sets —
    * the gate shape) and streams the corpus once per chunk at full
    * source parallelism: scored pairs flow join → score → map-side
    * TopK heap inside one stage, so the only exchange anywhere is
    * k rows per query — nothing corpus-sized ever shuffles or spills,
    * at ANY corpus size. Same score expression and (score desc, id asc)
    * cut as the probed arm ⇒ bit-identical results (the exact oracle is
    * unchanged). The corpus-wide graph (src = corpus) costs nChunks
    * corpus scans — the inherent n² FLOPs of exactness, now streaming
    * with bounded memory instead of spilling. */
  private[vector] def knnGraphExact(emb: DataFrame, src: DataFrame,
                                    idCol: String, vecCol: String, k: Int,
                                    metric: ExactKNN.Metric): DataFrame = {
    val queries = src.select(col(idCol).cast("long").as("qid"),
      col(vecCol).cast("array<double>").as("__qv"))
    val corpus = emb.select(col(idCol).cast("long").as("id"),
      col(vecCol).as("vector"))
    val nSrc = queries.count()
    // 0.75 headroom factor (round-13 ADVICE): chunks are cut by xxhash64
    // pmod, so hash skew can push an individual chunk past nSrc/nChunks;
    // sizing against 0.75·exactChunkRows keeps every chunk's broadcast
    // under the ~4 MB estimate even at the binomial tail (at 8192-row
    // targets the max-chunk overshoot is ~±3σ ≈ 1.04×, far inside 1.33×).
    val nChunks = math.max(1, math.ceil(nSrc / (0.75 * exactChunkRows)).toInt)
    val score = metric.score(metric.dist(col("vector"), col("__qv")))
    val parts = (0 until nChunks).map { c =>
      val chunk =
        if (nChunks == 1) queries
        else queries.where(pmod(xxhash64(col("qid")), lit(nChunks)) === c)
      graft.plans.TopK.perKey(
        corpus.join(broadcast(chunk), col("qid") =!= col("id"))
          .select(col("qid"), col("id"), score.as("score")),
        Seq("qid"), Seq("score" -> true, "id" -> false), k)
    }
    parts.reduce(_ unionAll _)
      .orderBy(col("qid").asc, col("score").desc, col("id").asc)
  }

  /** The skew-salt sizing rule as CODE (pure, spec-pinnable without a
    * build): with per-cluster row counts `counts` and `parallelism`
    * available task slots, the probed corpus-as-batch join puts ≈ |c|²
    * candidate pairs of cell c onto ONE task (the join key is the
    * cluster). Balanced share = Σ|c|²/P; the salt is the smallest split
    * factor that brings the hottest cell's block under that share,
    * `⌈max|c|² / (Σ|c|²/P)⌉`, in [1, P]. A uniform histogram with
    * nlist ≥ P resolves to 1 (no probe replication paid); a cell holding
    * half the corpus dominates Σ|c|² and resolves to ≈ P — every core
    * shares the quadratic block. Finer than P cannot help, hence the
    * cap. */
  def saltForHistogram(counts: Array[Long], parallelism: Int): Int = {
    if (counts.length <= 1) return 1
    val sq = counts.map(c => c.toDouble * c.toDouble)
    val share = sq.sum / math.max(1, parallelism)
    if (share <= 0.0) 1
    else math.min(math.max(1, parallelism),
      math.max(1, math.ceil(sq.max / share).toInt))
  }

  /** Effective cluster count after the reference's tiny-dataset shrink
    * (local_db.py:86–97). */
  def effectiveClusters(n: Long, nlist: Int): Int =
    if (n >= nlist) nlist
    else math.max(1, math.min(4, (n / 2).toInt))

  /** reference nprobe default: max(1, nlist // 10) (local_db.py:52). */
  def defaultNprobe(nlist: Int): Int = math.max(1, nlist / 10)

  /** Distributed Lloyd refinement: each iteration is ONE pass over the
    * corpus — nearest-centroid assignment via the codegen
    * [[graft.expr.NearestCentroid]] expression, then per-cluster means via
    * the map-side-combined [[graft.expr.VectorAgg.vecAvg]] aggregate
    * (O(nlist × dim) on the wire and at the driver, never O(rows)). The
    * k-means objective is non-increasing per iteration; empty clusters
    * keep their center. Use after sample-based training when the sample
    * may under-represent tail clusters at full corpus scale. */
  def refine(data: DataFrame, vecCol: String,
             centers: Array[Array[Double]], iters: Int): Array[Array[Double]] = {
    var cs = centers
    for (_ <- 0 until iters) {
      val means = data.select(col(vecCol).as("v"),
          graft.expr.VectorExpr.nearestCentroid(col(vecCol), cs).as("c"))
        .groupBy(col("c")).agg(graft.expr.VectorAgg.vecAvg(col("v")).as("m"))
        .collect().map(r => r.getInt(0) -> r.getSeq[Double](1).toArray).toMap
      cs = cs.zipWithIndex.map { case (old, i) => means.getOrElse(i, old) }
    }
    cs
  }

  /** Train centroids on a bounded sample driver-side (optionally refined
    * over the full corpus with `refineIters` distributed Lloyd passes),
    * assign the corpus in one codegen-expression pass. */
  def build(data: DataFrame, idCol: String, vecCol: String,
            nlist: Int, seed: Long = 42L, trainSample: Int = 50000,
            refineIters: Int = 0): IVFIndex = {
    val spark = data.sparkSession
    import spark.implicits._
    val base = data.select(col(idCol).cast("long").as("id"),
      col(vecCol).as("vector"),
      col(vecCol).cast("array<double>").as("__vd"))
    // Deterministic pseudo-random sample (TakeOrdered on an id hash) — a
    // head `limit` would train on the first partitions' worth of likely
    // time-ordered, skewed rows and bias the centroids.
    val sample = base.select(col("__vd"), col("id"))
      .orderBy(xxhash64(col("id"), lit(seed)))
      .limit(trainSample)
      .collect().map(_.getSeq[Double](0).toArray)
    require(sample.nonEmpty, "cannot build an IVF index over an empty corpus")
    val k = effectiveClusters(sample.length.toLong, nlist)
    val trained: Array[Array[Double]] =
      if (k < 2) Array(sample.head.map(_ => 0.0)) // single-cluster degenerate rung
      else Lloyd.fit(sample, k, iters = 20, new scala.util.Random(seed))
    val centers =
      if (refineIters > 0 && k >= 2) refine(base, "__vd", trained, refineIters)
      else trained
    val assigned = base.select(col("id"), col("vector"),
        graft.expr.VectorExpr.nearestCentroid(col("vector"), centers).as("cluster"))
      .repartition(col("cluster"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    new IVFIndex(centers.zipWithIndex.map { case (c, i) => (i, c) }, assigned,
      centers.length, Seq(assigned))
  }

  /** LAZY on-disk restore — the 100 TB mode. Centroids collect (≤ nlist
    * rows, the driver-held quantizer); assignments stay a plain
    * partitioned-parquet READ, never persisted, so a probe's
    * `cluster IN (probed…)` predicate becomes file-level PARTITION
    * PRUNING: only nprobe/nlist of the files are opened (IVFSpec pins
    * `PartitionFilters` in the probe's scan). The eager load caches the
    * opened assignment frame — the reference's in-RAM index model, right
    * when the index fits memory; `open` alone is the mode where it does
    * not, and pruned I/O is the entire point of IVF. `indexDir` is the
    * `$path/index` directory [[graft.VectorDatabase]] `save` writes.
    * `configuredNlist`, when given, overrides the persisted centroid count
    * as the reported `nlist` — so the lazy and eager load paths of the same
    * saved index agree on nprobe clamping even when k-means degraded to
    * fewer clusters than configured (r4 ADVICE). */
  def open(spark: SparkSession, indexDir: String,
           configuredNlist: Option[Int] = None): IVFIndex = {
    val centers = spark.read.parquet(s"$indexDir/centroids")
      .select(col("cluster"), col("centroid"))
      .collect()
      .map(r => (r.getInt(0), r.getSeq[Double](1).toArray))
    val assigns = spark.read.parquet(s"$indexDir/assignments")
    new IVFIndex(centers.sortBy(_._1), assigns,
      configuredNlist.getOrElse(centers.length))
  }

  def centroidsToDf(spark: SparkSession, index: IVFIndex): DataFrame = {
    import spark.implicits._
    index.centroids.toSeq.toDF("cluster", "centroid")
  }
}

/** Shared driver-side Lloyd's k-means over a bounded sample (also used by
  * [[PQIndex]]): |sample| × k × dim × iters work, deterministic per seed. */
private[graft] object Lloyd {
  def fit(points: Array[Array[Double]], k: Int, iters: Int,
          rnd: scala.util.Random): Array[Array[Double]] = {
    val d = points.head.length
    val n = points.length
    val perm = rnd.shuffle(points.indices.toVector)
    var centers = Array.tabulate(k)(i => points(perm(i * n / k)).clone())
    for (_ <- 0 until iters) {
      val sums = Array.fill(k, d)(0.0)
      val counts = new Array[Int](k)
      points.foreach { p =>
        var best = 0; var bestD = Double.MaxValue
        var c = 0
        while (c < k) {
          var dist = 0.0; var i = 0
          while (i < d) { val x = p(i) - centers(c)(i); dist += x * x; i += 1 }
          if (dist < bestD) { bestD = dist; best = c }
          c += 1
        }
        counts(best) += 1
        var i = 0
        while (i < d) { sums(best)(i) += p(i); i += 1 }
      }
      centers = Array.tabulate(k) { c =>
        if (counts(c) == 0) centers(c) // empty cluster keeps its center
        else { val s = sums(c); Array.tabulate(d)(i => s(i) / counts(c)) }
      }
    }
    centers
  }
}

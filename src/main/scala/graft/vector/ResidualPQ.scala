package graft.vector

import graft.plans.{KnnScorer, KnnTopK}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** RESIDUAL product quantization (round 10) — the construction
  * `faiss.IndexIVFPQ` actually uses (Jégou et al. 2011 §III-A; the
  * reference's index type at local_db.py:50–52): vectors are PQ-encoded
  * as residuals x − centroid(x) against the IVF coarse quantizer, so the
  * codebooks model the (much smaller) within-cluster displacement
  * instead of absolute position. Same byte cost as raw PQ, strictly less
  * quantization error wherever the coarse quantizer captures structure —
  * measured in ResidualPQSpec and SCALE.md.
  *
  * Retrieval here is the EXACT rung, not approximate ADC: the per-row
  * stored error err = ‖r − ĉ(r)‖ brackets the true distance exactly as
  * in [[PQIndex.searchExact]] (d̂ = ‖q − (centroid + ĉ(r))‖² is the
  * distance to the full reconstruction, so √d̂ ± err brackets ‖q − x‖ by
  * the triangle inequality) — a provable candidate superset from a
  * codes-only pass, float-reranked. Both rungs compute d̂ as one per-row
  * fold over flat ADC tables built by [[graft.expr.VecKernels.adcTable]]:
  * the exact rung ships [[flatAdc]] in a task closure; the approximate
  * [[searchBatch]] (one query or N) runs the fused
  * [[graft.plans.KnnTopK]] operator, which builds each query's tables
  * once per task for its probed cells only.
  *
  * Scope: build + exact search + incremental [[append]] + [[ResidualPQ.save]]/
  * [[ResidualPQ.load]] persistence + diagnostics — the full lifecycle
  * matrix the facade's other index families carry (r10 VERDICT #2).
  * FAISS's guidance still applies: appends encode against the TRAINED
  * coarse quantizer and codebooks (no retraining), so quantization error
  * grows if the corpus drifts — rebuild to retrain. Exactness is
  * unaffected either way: the per-row stored err makes the bound valid
  * for ANY assignment/codebook.
  */
final class ResidualPQ(val codes: DataFrame, // (id, cluster, codes, err)
                       val centroids: Array[(Int, Array[Double])],
                       val codebooks: Array[Array[Array[Double]]],
                       val dim: Int,
                       private val retained: Seq[DataFrame] = Nil) {

  val m: Int = codebooks.length
  private val subDim = dim / m

  def dispose(): Unit = retained.foreach(_.unpersist(blocking = false))

  /** Mean squared quantization error over the corpus — the measured
    * advantage over raw PQ (same m, same corpus). */
  def meanErr2: Double =
    codes.agg(avg(pow(col("err"), lit(2.0)))).head().getDouble(0)

  /** Incremental maintenance (≙ hnsw `add_items`, local_db.py:78–80;
    * [[PQIndex.append]]'s residual analog): each batch row is assigned to
    * its nearest EXISTING coarse centroid (the quantizer stays trained —
    * FAISS's add-to-trained-index contract), its residual encoded with
    * the EXISTING codebooks, one mapPartitions pass over the batch only,
    * unioned into the codes frame. The per-row stored err keeps
    * [[searchExact]]'s bracket valid for appended rows regardless of how
    * well the trained quantizer fits them — exactness never degrades,
    * only pruning selectivity does. */
  def append(batch: DataFrame, idCol: String, vecCol: String): ResidualPQ = {
    val base = batch.select(col(idCol).cast("long").as("id"),
      col(vecCol).cast("array<double>").as("v"))
    val batchCodes = ResidualPQ.encodeFrame(base, centroids, codebooks, dim)
      .persist(StorageLevel.MEMORY_AND_DISK)
    new ResidualPQ(
      codes.select(col("id").cast("long"), col("cluster").cast("int"),
          col("codes").cast("array<int>"), col("err").cast("double"))
        .unionByName(batchCodes),
      centroids, codebooks, dim, retained :+ batchCodes)
  }

  /** The per-query flat ADC table (round 17/18): entry
    * [c·m·kk + s·kk + j] = ‖(q − centroid_c)_s − codebook_s(j)‖², built
    * driver-side per query (FAISS's per-probe discipline, nlist·m·|book|
    * doubles) and shipped in a task closure — the exact rung's bounds. */
  private def flatAdc(query: Array[Double]): Array[Double] = {
    requireCoarse()
    val kk = codebooks.map(_.length).max
    val flat = new Array[Double]((centroids.map(_._1).max + 1) * m * kk)
    for ((c, cen) <- centroids)
      graft.expr.VecKernels.adcTable(query, cen, codebooks, subDim, kk, flat, c * m * kk)
    flat
  }

  private def requireCoarse(): Unit = require(centroids.nonEmpty,
    "ResidualPQ has no coarse centroids — cannot build ADC tables")

  /** FAISS `IndexIVFPQ`'s actual QUERY path, one query or N (the
    * approximate ADC rung beside [[searchExact]]'s exact one), in one pass
    * of the fused [[graft.plans.KnnTopK]] operator: each query's probe set
    * is its `nprobe` nearest centroids (ties by cluster id), each task
    * inverts the probe sets into cell → queries and builds a query's ADC
    * tables once, only for its probed cells, and a row's d̂ = ‖q − recon‖²
    * is one fixed ascending-s fold, scored only against the queries
    * probing its cell. Only (qid, qv) is broadcast, never a table.
    * Approximate on two axes exactly like FAISS (quantized distances +
    * probed subset); recall pinned in ResidualPQSpec, never fixed
    * contents. `restrict` narrows the codes below the operator: an id
    * allow-list and/or a cell set ([[probedCells]] of the block, partition
    * pruning on a `partitionBy(cluster)` layout). A code outside its
    * codebook, or an index without coarse centroids, fails with a named
    * error. Output contract = [[PQIndex.searchBatch]]: (qid, id, score =
    * 1/(1+d̂)), (score desc, id asc) per qid. Qids must identify ONE query
    * each: a repeated qid would merge two queries' heaps, and collapsing
    * duplicates has no defined winner in a distributed plan (round-12
    * ADVICE: the old `dropDuplicates` was a nondeterministic pick).
    * Uniqueness is asserted by the scorer on the collected query block
    * (no extra job runs): duplicate qids fail the query with a named
    * error. */
  def searchBatch(queries: DataFrame, qidCol: String, qvecCol: String,
                  k: Int, nprobe: Int = 4,
                  restrict: KnnTopK.Restrict = KnnTopK.Restrict.none): DataFrame = {
    require(nprobe >= 1, s"nprobe must be >= 1: $nprobe")
    requireCoarse()
    KnnTopK(
      restrict(codes).select(col("id"), col("codes").cast("array<int>").as("codes"),
        col("cluster").cast("int").as("cluster")),
      queries.select(col(qidCol).as("qid"), col(qvecCol).cast("array<double>").as("qv")),
      k, scorer(nprobe))
  }

  /** The cells a block of query vectors probes at `nprobe` (None: all). */
  def probedCells(queries: Seq[Array[Double]], nprobe: Int): Option[Seq[Int]] =
    scorer(nprobe).probedCells(queries)

  private def scorer(nprobe: Int): KnnScorer.Adc = KnnScorer.Adc(codebooks, centroids, nprobe)

  /** EXACT top-k through the residual codes: pass 1 joins the exploded
    * codes to the broadcast per-cluster ADC frame and brackets each row
    * with its stored err; T = k-th smallest upper bound (+ the rounded-tie
    * slack); survivors float-rerank via one semi-join. Output contract =
    * [[ExactKNN.topK]] with the oracle's rounded-order tie semantics. */
  def searchExact(query: Array[Double], k: Int,
                  vectors: DataFrame, idCol: String, vecCol: String): DataFrame = {
    import graft.functions.VectorFunctions
    val bounds = exactBounds(query)
    val t0row = bounds.select(col("dhi")).orderBy(col("dhi").asc).limit(k)
      .agg(max(col("dhi"))).head()
    val base = vectors.select(col(idCol).cast("long").as("id"),
      col(vecCol).cast("array<double>").as("vector"))
    if (t0row.isNullAt(0))
      return base.select(col("id"), lit(0.0).as("score")).limit(0)
    val t0 = t0row.getDouble(0)
    val t = t0 + 2e-4 * (1.0 + t0) * (1.0 + t0) // rounded-tie slack (SQIndex doc)
    val qc = VectorFunctions.vecLit(query)
    base.join(bounds.where(col("dlo") <= t).select(col("id")), Seq("id"), "left_semi")
      .select(col("id"),
        round(VectorFunctions.distToScore(
          VectorFunctions.squaredL2(col("vector"), qc)), 4).as("score"))
      .orderBy(col("score").desc, col("id").asc)
      .limit(k)
  }

  /** Bounds via ONE codegen'd projection (round 17, guide §2.4 "remove
    * shuffles outright"): the old relational d̂ exploded the codes (m rows
    * per vector), broadcast-joined a per-query 32 k-row LocalRelation and
    * re-keyed the exploded rows by id through an Exchange — a corpus×m
    * shuffle PER QUERY whose only job was summing m lookups that live on
    * the same row. The ADC table is still computed driver-side per query
    * (FAISS's per-probe discipline, nlist·m·|book| doubles) but ships as
    * one flat array literal; d̂ folds the m subspace lookups in fixed
    * s-order inside the row — no Generate, no join, no Exchange, and the
    * scan stays a single WholeStageCodegen span at ANY corpus size. The
    * superset proof is arithmetic-order-independent, and the old shuffle
    * sum's merge order was not even deterministic — the fixed fold is
    * strictly tighter pinning. Plan diff in plans/r17 (facade_ivfpq_knn,
    * knn_prefilter_ivfpq): Generate+BHJ+2×HashAggregate+Exchange → Project. */
  private def exactBounds(query: Array[Double]): DataFrame = {
    val flat = flatAdc(query)
    val spark = codes.sparkSession
    import spark.implicits._
    val mm = m
    val kkc = codebooks.map(_.length).max
    codes.select(col("id").cast("long"), col("cluster").cast("int"),
        col("codes").cast("array<int>"), col("err").cast("double"))
      .as[(Long, Int, Seq[Int], Double)]
      .mapPartitions(_.map { case (id, cluster, cs, err) =>
        val base = cluster * mm * kkc
        require(base >= 0 && base + mm * kkc <= flat.length,
          s"ResidualPQ codes row $id has cluster $cluster outside the trained quantizer")
        var dhat = 0.0
        var s = 0
        while (s < mm) {
          val code = cs(s)
          require(code >= 0 && code < kkc,
            s"ResidualPQ codes row $id has code $code outside the trained codebooks")
          dhat += flat(base + s * kkc + code); s += 1
        }
        val ad = math.sqrt(dhat)
        val lo = math.max(0.0, ad - err)
        (id, lo * lo, (ad + err) * (ad + err))
      })
      .toDF("id", "dlo", "dhi")
  }

  /** Pass-1 survivor count — the pruning diagnostic. */
  def exactCandidateCount(query: Array[Double], k: Int): Long = {
    val bounds = exactBounds(query)
    val t0row = bounds.select(col("dhi")).orderBy(col("dhi").asc).limit(k)
      .agg(max(col("dhi"))).head()
    if (t0row.isNullAt(0)) return 0L
    val t0 = t0row.getDouble(0)
    bounds.where(col("dlo") <= t0 + 2e-4 * (1.0 + t0) * (1.0 + t0)).count()
  }
}

object ResidualPQ {

  /** Build over an IVF index's assignments: residual r = x − centroid(x)
    * per row (centroid array in the task closure — nlist·dim doubles),
    * codebooks trained on a bounded residual SAMPLE (deterministic hash
    * order, like [[PQIndex.build]]), one distributed encode pass storing
    * (cluster, codes, err). */
  def build(ivf: IVFIndex, dim: Int, m: Int = 16, nbits: Int = 8,
            seed: Long = 42L, trainSample: Int = 10000): ResidualPQ = {
    require(dim % m == 0, s"pq_code_size $m must divide dim $dim")
    val subDim = dim / m
    val spark = ivf.assignments.sparkSession
    import spark.implicits._
    val centers: Map[Int, Array[Double]] = ivf.centroids.toMap
    val base = ivf.assignments.select(col("id").cast("long"),
        col("vector").cast("array<double>"), col("cluster").cast("int"))
      .as[(Long, Seq[Double], Int)]
    // deterministic sample → residuals on the driver for Lloyd training
    val sample = base.toDF("id", "v", "cluster")
      .orderBy(xxhash64(col("id"), lit(seed)))
      .limit(trainSample)
      .collect().map { r =>
        val v = r.getSeq[Double](1).toArray
        val cen = centers(r.getInt(2))
        Array.tabulate(dim)(i => v(i) - cen(i))
      }
    require(sample.nonEmpty, "cannot train residual PQ on an empty corpus")
    val k = math.min(1 << nbits, math.max(2, sample.length / 2))
    val codebooks = Array.tabulate(m)(s =>
      Lloyd.fit(sample.map(v => java.util.Arrays.copyOfRange(v, s * subDim, (s + 1) * subDim)),
        k, iters = 10, new scala.util.Random(seed + s)))
    val codes = encodeFrame(base.toDF("id", "v", "cluster"),
        ivf.centroids, codebooks, dim)
      .persist(StorageLevel.MEMORY_AND_DISK)
    new ResidualPQ(codes, ivf.centroids, codebooks, dim, Seq(codes))
  }

  /** The encode pass as a lazy frame — shared by [[build]] (cluster
    * pre-assigned by the IVF) and [[ResidualPQ.append]] (cluster = nearest
    * trained centroid, computed in the same task; ties break to the
    * lowest cluster id, deterministic). Input: (id, v[, cluster]);
    * centroids + codebooks travel in the task closure (nlist·dim +
    * m·|book|·subDim doubles). Output: (id, cluster, codes, err) with
    * err = ‖x − centroid − ĉ(residual)‖, the row-exact bound radius. */
  private[vector] def encodeFrame(base: DataFrame,
                                  centroids: Array[(Int, Array[Double])],
                                  codebooks: Array[Array[Array[Double]]],
                                  dim: Int): DataFrame = {
    val spark = base.sparkSession
    import spark.implicits._
    val m = codebooks.length
    val subDim = dim / m
    val cb = codebooks
    val cens = centroids
    val centers = centroids.toMap
    val assigned: org.apache.spark.sql.Dataset[(Long, Seq[Double], Int)] =
      if (base.columns.contains("cluster"))
        base.select(col("id").cast("long"), col("v").cast("array<double>"),
          col("cluster").cast("int")).as[(Long, Seq[Double], Int)]
      else base.select(col("id").cast("long"), col("v").cast("array<double>"))
        .as[(Long, Seq[Double])].mapPartitions(_.map { case (id, v) =>
          val arr = v.toArray
          var best = cens(0)._1; var bestD = Double.MaxValue
          var ci = 0
          while (ci < cens.length) {
            val cen = cens(ci)._2
            var d = 0.0; var i = 0
            while (i < dim) { val x = arr(i) - cen(i); d += x * x; i += 1 }
            if (d < bestD) { bestD = d; best = cens(ci)._1 }
            ci += 1
          }
          (id, v, best)
        })
    assigned.mapPartitions(_.map { case (id, v, cluster) =>
      val cen = centers(cluster)
      val arr = Array.tabulate(dim)(i => v(i) - cen(i))
      var e2 = 0.0
      val cs = Array.tabulate(m) { s =>
        val off = s * subDim
        var best = 0; var bestD = Double.MaxValue
        var c = 0
        while (c < cb(s).length) {
          var d = 0.0; var i = 0
          while (i < subDim) { val x = arr(off + i) - cb(s)(c)(i); d += x * x; i += 1 }
          if (d < bestD) { bestD = d; best = c }
          c += 1
        }
        e2 += bestD
        best
      }
      (id, cluster, cs.toSeq, math.sqrt(e2))
    }).toDF("id", "cluster", "codes", "err")
  }

  // ---- persistence ([[PQIndex.save]]'s pattern + the coarse centroids:
  // the reference persists its index binary, local_db.py:219–222 — ours is
  // codes + codebooks + centroids as three parquet frames) ----

  def save(index: ResidualPQ, path: String): Unit = {
    val spark = index.codes.sparkSession
    import spark.implicits._
    // cluster-partitioned at rest: a probe's `cluster IN (probed…)` becomes
    // file-level partition pruning — only nprobe/nlist of the codes files
    // open (the IVF assignments discipline, applied to the codes frame)
    index.codes.write.mode("overwrite").partitionBy("cluster")
      .parquet(s"$path/codes")
    index.codebooks.zipWithIndex.flatMap { case (book, s) =>
      book.zipWithIndex.map { case (c, j) => (s, j, c.toSeq, index.dim) }
    }.toSeq.toDF("subspace", "code", "centroid", "dim")
      .write.mode("overwrite").parquet(s"$path/codebooks")
    index.centroids.toSeq.map { case (c, cen) => (c, cen.toSeq) }
      .toDF("cluster", "centroid")
      .write.mode("overwrite").parquet(s"$path/centroids")
  }

  def load(spark: org.apache.spark.sql.SparkSession, path: String): ResidualPQ = {
    val cbRows = spark.read.parquet(s"$path/codebooks").collect()
    // fail fast with a diagnosable message instead of an opaque
    // NoSuchElementException on `.head` (round-12 ADVICE)
    require(cbRows.nonEmpty, s"no residual-PQ codebooks at $path/codebooks")
    val dim = cbRows.head.getInt(3)
    val codebooks = cbRows.groupBy(_.getInt(0)).toSeq.sortBy(_._1).map { case (_, cs) =>
      cs.sortBy(_.getInt(1)).map(_.getSeq[Double](2).toArray)
    }.toArray
    val centroids = spark.read.parquet(s"$path/centroids").collect()
      .map(r => (r.getInt(0), r.getSeq[Double](1).toArray))
      .sortBy(_._1)
    val codes = spark.read.parquet(s"$path/codes")
      .persist(StorageLevel.MEMORY_AND_DISK)
    new ResidualPQ(codes, centroids, codebooks, dim, Seq(codes))
  }
}

package graft.vector

import graft.plans.{KnnScorer, KnnTopK}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Bucketed random-projection (Euclidean) LSH (Datar, Immorlica, Indyk,
  * Mirrokni, "Locality-sensitive hashing scheme based on p-stable
  * distributions", SoCG 2004) — a capability substitute for the reference's
  * HNSW index (SURVEY §2.3-K5; IVFIndex is the other), built directly on
  * the DataFrame API so the candidate predicate stays inside the scan (no
  * opaque ML-model filter).
  *
  * Hashing: `numTables` unit direction vectors w_t (seeded Gaussian,
  * driver-held — O(tables × dim)); bucket_t(v) = floor(v·w_t / bucketLength).
  * The corpus is hashed ONCE into `hashed(id, vector, hashes ARRAY<INT>)`;
  * a query touches only rows falling within `probeRadius` buckets of the
  * query's bucket in SOME table, and only those candidates are re-ranked
  * exactly ([[ExactKNN.topK]] contract: score = 1/(1+d²), desc, id-asc
  * ties).
  *
  * Exact-recoverable configuration (the oracle-verified gate): because every
  * direction is unit-norm, |v·w − q·w| ≤ ‖v − q‖ ≤ ‖v‖ + ‖q‖ ≤ maxNorm +
  * ‖q‖, so probing radius ⌈(maxNorm + ‖q‖)/bucketLength⌉ makes the candidate
  * set a PROVABLE superset of any top-k — results are then bit-identical to
  * the flat scan ([[search]] with `exact = true`). The tuned radius-0 probe
  * is the approximate path whose recall is pinned in LSHSpec.
  *
  * At scale: write `hashed` bucketed by (hashes[0]) or partition by a hash
  * prefix so the range predicate prunes files; the corpus is never shuffled
  * at query time and only candidates are scanned.
  */
final class LSHIndex(val hyperplanes: Array[Array[Double]],
                     val bucketLength: Double,
                     val maxNorm: Double,
                     val hashed: DataFrame,
                     private val retained: Seq[DataFrame] = Nil) {

  /** Releases every frame this index persisted (build/load + appends). */
  def dispose(): Unit = retained.foreach(_.unpersist(blocking = false))

  /** Incremental maintenance (≙ hnsw `add_items`, local_db.py:78–80): hash
    * `batch` with the EXISTING hyperplanes — LSH needs no training, so the
    * appended rows are first-class citizens of the same bucket space — and
    * union into the hashed frame. `maxNorm` (the exact-probe radius bound)
    * widens to cover the batch; cost ∝ |batch| × tables. */
  def append(batch: DataFrame, idCol: String, vecCol: String): LSHIndex = {
    val base = batch.select(col(idCol).cast("long").as("id"),
      col(vecCol).cast("array<float>").as("vector"),
      col(vecCol).cast("array<double>").as("__vd"))
    val hashCols = hyperplanes.map { w =>
      floor(graft.expr.VectorExpr.dot(col("__vd"),
        graft.functions.VectorFunctions.vecLit(w)) / bucketLength).cast("int")
    }
    val hashedBatch = base
      .select(col("id"), col("vector"), array(hashCols: _*).as("hashes"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val mn = base.select(max(sqrt(graft.expr.VectorExpr.dot(col("__vd"), col("__vd")))))
      .head().getDouble(0)
    new LSHIndex(hyperplanes, bucketLength, math.max(maxNorm, mn),
      hashed.select(col("id").cast("long"), col("vector").cast("array<float>"),
        col("hashes").cast("array<int>")).unionByName(hashedBatch),
      retained :+ hashedBatch)
  }

  /** Candidate filter: ∃ table t with hash_t ∈ [bucket_t(q) − r, + r]. */
  private def candidates(query: Array[Double], radius: Int): DataFrame = {
    val pred = hyperplanes.zipWithIndex.map { case (w, t) =>
      val b = graft.expr.VecKernels.lshBucket(query, w, bucketLength)
      col("hashes").getItem(t).between(b - radius, b + radius)
    }.reduce(_ || _)
    hashed.where(pred)
  }

  /** ANN through the LSH tables, one query or N, in one pass of the fused
    * [[graft.plans.KnnTopK]] operator. Each task hashes every query once
    * with the same planes; a (row, query) pair is re-ranked exactly only
    * when the row falls within the probe radius of the query's bucket in
    * some table, and one bounded heap per query keeps the top k. The
    * corpus is never exploded, joined or shuffled. `exact = true` widens
    * the radius to the provable-superset bound over the WHOLE batch (max
    * corpus norm + max query norm), making the result bit-equal to the
    * exact batch scan — the oracle-gated configuration. `restrict` (an id
    * allow-list) narrows the hashed rows below the operator. Output
    * contract matches [[ExactKNN.topKBatch]]: (qid, id, score). */
  def searchBatch(queries: DataFrame, qidCol: String, qvecCol: String,
                  k: Int, probeRadius: Int = 0, exact: Boolean = false,
                  metric: ExactKNN.Metric = ExactKNN.L2Sq,
                  restrict: KnnTopK.Restrict = KnnTopK.Restrict.none): DataFrame = {
    val q = queries.select(col(qidCol).as("qid"),
      col(qvecCol).cast("array<double>").as("__qv"))
    KnnTopK(restrict(hashed).select(col("id"), col("vector"), col("hashes")),
      q.select(col("qid"), col("__qv").as("qv")), k,
      KnnScorer.LshBuckets(hyperplanes, bucketLength,
        batchRadius(q, probeRadius, exact), metric))
  }

  /** The probe radius for a (qid, __qv) batch: `probeRadius`, or with
    * `exact` the provable-superset radius over the batch's max norm (a
    * batch without a non-null vector has nothing to widen for). */
  private def batchRadius(q: DataFrame, probeRadius: Int, exact: Boolean): Int =
    if (!exact) probeRadius
    else {
      val mq = q.select(max(sqrt(graft.expr.VectorExpr.dot(col("__qv"), col("__qv"))))).head()
      if (mq.isNullAt(0)) probeRadius
      else math.ceil((maxNorm + mq.getDouble(0)) / bucketLength).toInt
    }

  /** k-NN GRAPH through the LSH tables — the corpus-as-batch composition,
    * mirroring [[IVFIndex.knnGraph]]: k+1 absorbs the guaranteed self-hit,
    * a bounded re-cut drops it. A corpus-sized query side must never
    * broadcast, so both sides explode to (table, bucket) rows — queries
    * |Q| × tables × (2r+1), the corpus once — and meet on one shuffled
    * equi-join; the distinct (qid, id) candidates re-rank exactly via
    * bounded per-query heaps. Only in-bucket pairs ever materialize.
    * `exact = true` (the oracle-gated configuration) probes the
    * provable-superset radius, so the graph is bit-equal to the exact
    * k-NN graph; a tuned `probeRadius` is the at-scale path, approximate
    * like every probe. `nodesFilter` bounds which vectors get edges
    * (neighbors still come from the whole index) — the cost dial against
    * the inherent |nodes| × corpus lower bound of an exact graph. */
  def knnGraph(emb: DataFrame, idCol: String, vecCol: String,
               k: Int, probeRadius: Int = 0, exact: Boolean = false,
               metric: ExactKNN.Metric = ExactKNN.L2Sq,
               nodesFilter: Option[org.apache.spark.sql.Column] = None): DataFrame = {
    val src = nodesFilter.map(emb.where).getOrElse(emb)
    val q = src.select(col(idCol).as("qid"), col(vecCol).cast("array<double>").as("__qv"))
    val r = batchRadius(q, probeRadius, exact)
    val qBuckets = hyperplanes.zipWithIndex.map { case (w, t) =>
      struct(lit(t).as("table"),
        floor(graft.expr.VectorExpr.dot(col("__qv"),
          graft.functions.VectorFunctions.vecLit(w)) / bucketLength).cast("int").as("b"))
    }
    val probes = q
      .select(col("qid"), col("__qv"), explode(array(qBuckets: _*)).as("tb"))
      .select(col("qid"), col("__qv"), col("tb.table").as("table"),
        explode(sequence(col("tb.b") - r, col("tb.b") + r)).as("bucket"))
    val corpus = hashed.select(col("id"), posexplode(col("hashes")).as(Seq("table", "bucket")))
    val scored = corpus.join(probes.select(col("qid"), col("table"), col("bucket")),
        Seq("table", "bucket"))
      .select(col("qid"), col("id")).distinct()
      .join(hashed.select(col("id"), col("vector")), Seq("id"))
      .join(q, Seq("qid"))
      .select(col("qid"), col("id"),
        metric.score(metric.dist(col("vector"), col("__qv"))).as("score"))
    val res = graft.plans.TopK.perKey(scored, Seq("qid"), Seq("score" -> true, "id" -> false), k + 1)
      .orderBy(col("qid").asc, col("score").desc, col("id").asc)
    graft.plans.TopK.perKey(res.where(col("qid") =!= col("id")),
        Seq("qid"), Seq("score" -> true, "id" -> false), k)
      .orderBy(col("qid").asc, col("score").desc, col("id").asc)
  }

  /** Number of candidate rows a probe at `radius` would re-rank — the
    * honest cost axis of a recall curve (recall 1.0 by scanning the whole
    * corpus is not a win). */
  def candidateCount(query: Array[Double], radius: Int): Long =
    candidates(query, radius).count()

  /** Top-k via bucket probe + exact re-rank for one query: [[searchBatch]]
    * over the block of one. `exact = true` widens the probe to the
    * provable-superset radius (see class doc). Output: (id, score). */
  def search(query: Array[Double], k: Int, probeRadius: Int = 0,
             exact: Boolean = false): DataFrame =
    searchBatch(KnnTopK.block(hashed.sparkSession, Seq((0L, query))), "qid", "qv", k,
      probeRadius, exact).select(col("id"), col("score"))
}

object LSHIndex {

  /** Seeded unit directions (Gaussian → normalize), deterministic. */
  def directions(numTables: Int, dim: Int, seed: Long): Array[Array[Double]] = {
    val rnd = new scala.util.Random(seed)
    Array.fill(numTables) {
      val w = Array.fill(dim)(rnd.nextGaussian())
      val n = math.sqrt(w.map(x => x * x).sum)
      w.map(_ / n)
    }
  }

  def build(data: DataFrame, idCol: String, vecCol: String,
            numHashTables: Int = 4, bucketLength: Double = 2.0,
            seed: Long = 42L): LSHIndex = {
    val base = data.select(col(idCol).cast("long").as("id"),
      col(vecCol).as("vector"),
      col(vecCol).cast("array<double>").as("__vd"))
    val dim = base.select(size(col("vector"))).head().getInt(0)
    val planes = directions(numHashTables, dim, seed)
    val hashCols = planes.map { w =>
      // dot(v, w) as a fused codegen expression against the literal direction
      floor(graft.expr.VectorExpr.dot(col("__vd"),
        graft.functions.VectorFunctions.vecLit(w)) / bucketLength).cast("int")
    }
    val hashed = base
      .select(col("id"), col("vector"), array(hashCols: _*).as("hashes"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // one bounded scalar: the corpus max norm, for the exact-probe radius
    val mn = base.select(max(sqrt(graft.expr.VectorExpr.dot(col("__vd"), col("__vd")))))
      .head().getDouble(0)
    new LSHIndex(planes, bucketLength, mn, hashed, Seq(hashed))
  }

  // ---- persistence (S3/S4 for the LSH artifact; the reference persists its
  // index binary, local_db.py:219–222 — ours is a parquet frame + params) ----

  def save(index: LSHIndex, path: String): Unit = {
    val spark = index.hashed.sparkSession
    import spark.implicits._
    index.hashed.write.mode("overwrite").parquet(s"$path/hashed")
    index.hyperplanes.zipWithIndex
      .map { case (w, t) => (t, w.toSeq, index.bucketLength, index.maxNorm) }
      .toSeq.toDF("table", "direction", "bucketLength", "maxNorm")
      .write.mode("overwrite").parquet(s"$path/planes")
  }

  def load(spark: SparkSession, path: String): LSHIndex = {
    val planesDf = spark.read.parquet(s"$path/planes").orderBy(col("table")).collect()
    val planes = planesDf.map(_.getSeq[Double](1).toArray)
    val bl = planesDf.head.getDouble(2)
    val mn = planesDf.head.getDouble(3)
    val hashed = spark.read.parquet(s"$path/hashed").persist(StorageLevel.MEMORY_AND_DISK)
    new LSHIndex(planes, bl, mn, hashed, Seq(hashed))
  }
}

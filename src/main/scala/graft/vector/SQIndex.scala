package graft.vector

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.functions.VectorFunctions

/** SQ8 scalar-quantized scan index — the Spark-native realization of
  * FAISS's `IndexScalarQuantizer(QT_8bit)`, the storage-compression rung
  * the reference's degrade ladder (local_db.py:86–111) would reach between
  * flat floats and PQ codes: every dimension is affinely mapped to one
  * unsigned byte, so the scan reads 1/4 the bytes of a float32 corpus
  * (1/8 of this repo's double-array test frames) while keeping per-
  * dimension resolution PQ gives up.
  *
  * EXACTNESS: unlike PQ's ADC (approximate by construction), SQ8 admits a
  * *provable* exact top-k via interval pruning. With per-dim step `s_i`
  * and dequantized value `x̂_i = min_i + code_i·s_i`, the true coordinate
  * lies in `x̂_i ± s_i/2`, so the true squared-L2 distance to a query q is
  * bounded by
  *   d̂ − B  ≤  d  ≤  d̂ + B + S,
  *   B = Σ_i s_i·|x̂_i − q_i|,  S = Σ_i s_i²/4
  * (expand (x̂_i+δ_i−q_i)² and bound |δ_i| ≤ s_i/2 termwise). The search
  * takes T = the k-th smallest UPPER bound (one O(k) driver scalar, the
  * same bounded-argument discipline as a query vector), keeps only rows
  * with `d̂ − B ≤ T` — a provable superset of the true top-k — and reranks
  * that sliver against the float vectors. Candidates shrink as quantization
  * error → 0; the scan itself touches only code bytes.
  *
  * 100 TB shape: the quantizer is 2·dim doubles (driver/broadcast-sized,
  * trained in one `agg` pass like FAISS trains SQ on a sample); the code
  * scan is embarrassingly parallel with NO shuffle — both top-k reductions
  * are bounded-heap `orderBy().limit(k)` (partial TakeOrdered per
  * partition, k rows to the driver); the rerank reads full vectors for
  * only the pruned candidate set (late materialization: at scale, codes
  * and vectors are separate parquet column chunks of one table, so
  * non-candidate float pages are never decoded).
  */
final class SQIndex(val data: DataFrame, // (id, vector, code) persisted
                    val mins: Array[Double],
                    val steps: Array[Double]) {

  def dim: Int = mins.length

  /** Σ s_i²/4 — the constant slack of the upper bound. */
  private val slackS: Double = steps.map(s => s * s / 4.0).sum

  /** Fused dequantize-and-fold kernels (round 18): d̂, B and x̂·q straight
    * from the code bytes in one generated loop each, with the quantizer
    * arrays as plan reference objects — replaces the interpreted
    * zip_with/element_at formulation whose 64-literal trees dominated the
    * batch gates' planning AND execution (see
    * [[graft.expr.SqDeqFoldExpression]] for the bit-equality contract). */
  private def dhatOf(codeCol: Column, q: Column): Column =
    graft.expr.VectorExpr.sqDeqSquaredL2(codeCol, q, mins, steps)
  private def bbOf(codeCol: Column, q: Column): Column =
    graft.expr.VectorExpr.sqDeqBandBound(codeCol, q, mins, steps)
  private def deqDotOf(codeCol: Column, q: Column): Column =
    graft.expr.VectorExpr.sqDeqDot(codeCol, q, mins, steps)

  /** Exact top-k by squared L2, scored `1/(1+d)` — bound-pruned SQ8 scan,
    * then a float rerank of the provable superset.
    *
    * The kept set must cover not just the true top-k but every row that can
    * TIE with the k-th row after the 4-dp score rounding the result
    * contract applies (round is monotone, so a farther row can only tie,
    * never win — but a tie + smaller id does win). A tying row r satisfies
    * score_r ≥ score_k − 1e-4, which algebra turns into
    * d_r ≤ T + x(1+T)/(1−x), x = 1e-4·(1+T); for x ≤ ½ (T ≤ 4999 — far
    * beyond any 1/(1+d) workload worth ranking) that is ≤ T + 2e-4·(1+T)².
    */
  /** Pass 1 shared by [[search]] and [[candidateCount]]: codes-only bound
    * projection + the k-th-smallest-upper-bound threshold (one O(k) driver
    * scalar) + the rounded-tie slack. Returns the bound-surviving rows —
    * empty (never NPE) on an empty index. */
  private def prunedCandidates(q: Array[Double], k: Int,
                               restrict: Option[Column] = None): DataFrame = {
    if (dim == 0) // empty-corpus index: no quantizer — nothing can match
      return data.select(col("id"), col("vector"),
        lit(0.0).as("dhat"), lit(0.0).as("bb")).limit(0)
    val qc = VectorFunctions.vecLit(q)
    // optional scan restriction FIRST (e.g. an IVF cluster probe — the
    // FAISS IVF_SQ8 composition: partition-prune the I/O, then bound-prune
    // the codes); the k-th-upper-bound threshold is computed over the
    // restricted domain, so the proof gives exact top-k OF THAT DOMAIN
    // (= global exact when the restriction covers every cluster).
    val base = restrict.map(data.where).getOrElse(data)
    val scored = base.select(col("id"), col("vector"),
        dhatOf(col("code"), qc).as("dhat"),
        bbOf(col("code"), qc).as("bb"))
    // k-th smallest upper bound: bounded-heap reduction, one O(k) scalar.
    val t0row = scored.select((col("dhat") + col("bb") + lit(slackS)).as("ub"))
      .orderBy(col("ub").asc).limit(k)
      .agg(max(col("ub"))).head()
    if (t0row.isNullAt(0)) return scored.limit(0) // empty index: max(ub) is NULL
    val t0 = t0row.getDouble(0)
    val t = t0 + 2e-4 * (1.0 + t0) * (1.0 + t0) // rounded-tie slack, see doc
    scored.where(col("dhat") - col("bb") <= t)
  }

  /** NOTE on tie semantics: the result is ordered by the ROUNDED score
    * then id — the contract the SQL oracle states (`round(...) AS score
    * ORDER BY score DESC, id`). A flat `topK` that selects by UNROUNDED
    * score agrees everywhere except exact 4-dp boundary ties, where the
    * oracle (and this index) prefer the smaller id among rounded-equal
    * rows; SQIndexSpec's property test pins this against a
    * rounded-order reference. */
  def search(q: Array[Double], k: Int, restrict: Option[Column] = None): DataFrame = {
    val qc = VectorFunctions.vecLit(q)
    prunedCandidates(q, k, restrict)
      .select(col("id"),
        round(VectorFunctions.distToScore(VectorFunctions.squaredL2(col("vector"), qc)), 4).as("score"))
      .orderBy(col("score").desc, col("id").asc)
      .limit(k)
  }

  /** Batch exact top-k — ONE pass of the fused [[graft.plans.KnnTopK]]
    * operator over the index with the query block broadcast: per
    * partition and per query, a branch-and-bound over the codes. A
    * (row, query) pair is pruned when its lower bound d̂ − B exceeds the
    * query heap's current k-th exact distance T plus the rounded-tie
    * slack 2e-4·(1+T)² (the same proof and slack as [[search]]); only
    * the pairs that survive read the row's float vector and enter the
    * heap. ≤ k rows per query per partition reach the merge (on the
    * driver for a `collect`). Ranked by the UNROUNDED score, then id —
    * the batch oracle's row_number order and ExactKNN.topKBatch's — and
    * rounded to 4 dp for output, ordered (qid, rounded score desc, id).
    * Rows with a null code are skipped. */
  def searchBatch(queries: DataFrame, qidCol: String, qvCol: String, k: Int): DataFrame =
    graft.plans.KnnTopK(data,
      queries.select(col(qidCol).as("qid"), col(qvCol).as("qv")),
      k, graft.plans.KnnScorer.Sq8L2(mins, steps))

  /** Candidate count for a query — the pruning diagnostic (spec + SCALE),
    * measuring exactly the set [[search]] reranks. */
  def candidateCount(q: Array[Double], k: Int): Long =
    prunedCandidates(q, k).count()

  /** Exact top-k by COSINE similarity — the dot/cosine interval bound the
    * L2 arm's proof transposes to (r8 VERDICT #7): with |δ_i| ≤ s_i/2,
    *   |x̂·q − x·q| ≤ Σ_i s_i·|q_i|/2 = B   (one DRIVER scalar per query),
    * and with the row's exact float norm ‖x‖ stored at build time
    * (`nrm`, one double — reading it does NOT decode the vector pages),
    *   (x̂·q − B)/(‖x‖‖q‖) ≤ cos(x, q) ≤ (x̂·q + B)/(‖x‖‖q‖).
    * Take T = the k-th LARGEST lower bound (bounded-heap, O(k) driver
    * scalar); every true top-k row has cos ≥ T, so keeping upper bounds
    * ≥ T − 2e-4 (the 4-dp rounded-tie slack — linear here, since the
    * score IS the cosine) is a provable superset, reranked on floats.
    * Same codes-only pass-1 / late-materialized pass-2 shape as
    * [[search]]. Zero-norm rows (cosine undefined) drop out of both the
    * threshold and the candidate set — NaN fails every comparison. */
  def searchCosine(q: Array[Double], k: Int): DataFrame = {
    val qnorm = math.sqrt(q.map(x => x * x).sum)
    if (dim == 0 || qnorm == 0.0)
      return data.select(col("id"), lit(0.0).as("score")).limit(0)
    val qc = VectorFunctions.vecLit(q)
    val bSlack = steps.zip(q).map { case (s, qi) => s * math.abs(qi) / 2.0 }.sum
    val scored = data.select(col("id"), col("vector"),
      (deqDotOf(col("code"), qc) / (col("nrm") * lit(qnorm))).as("chat"),
      (lit(bSlack) / (col("nrm") * lit(qnorm))).as("bb"))
    val tRow = scored.select((col("chat") - col("bb")).as("lb"))
      .orderBy(col("lb").desc).limit(k)
      .agg(min(col("lb"))).head()
    if (tRow.isNullAt(0))
      return data.select(col("id"), lit(0.0).as("score")).limit(0)
    val t = tRow.getDouble(0) - 2e-4
    scored.where(col("chat") + col("bb") >= t)
      .select(col("id"),
        round(VectorFunctions.cosine(col("vector"), qc), 4).as("score"))
      .orderBy(col("score").desc, col("id").asc)
      .limit(k)
  }

  /** Batch cosine exact top-k — the metric transpose of [[searchBatch]]
    * in the same fused operator: a pair is pruned when its upper bound
    * (x̂·q + B_q)/(‖x‖‖q‖), with B_q = Σ sᵢ|qᵢ|/2 and the stored row norm
    * `nrm`, falls below the query heap's current k-th exact cosine minus
    * the rounded-tie slack 2e-4; survivors are reranked on floats. Ranked
    * by UNROUNDED cosine then id, rounded for output. Zero-norm rows and
    * queries (cosine undefined) are never scored. */
  def searchBatchCosine(queries: DataFrame, qidCol: String, qvCol: String,
                        k: Int): DataFrame =
    graft.plans.KnnTopK(data,
      queries.select(col(qidCol).as("qid"), col(qvCol).as("qv")),
      k, graft.plans.KnnScorer.Sq8Cosine(mins, steps))

  /** Pruning diagnostic for the cosine arm (spec + SCALE). */
  def candidateCountCosine(q: Array[Double], k: Int): Long = {
    val qnorm = math.sqrt(q.map(x => x * x).sum)
    if (dim == 0 || qnorm == 0.0) return 0L
    val qc = VectorFunctions.vecLit(q)
    val bSlack = steps.zip(q).map { case (s, qi) => s * math.abs(qi) / 2.0 }.sum
    val scored = data.select(
      (deqDotOf(col("code"), qc) / (col("nrm") * lit(qnorm))).as("chat"),
      (lit(bSlack) / (col("nrm") * lit(qnorm))).as("bb"))
    val tRow = scored.select((col("chat") - col("bb")).as("lb"))
      .orderBy(col("lb").desc).limit(k).agg(min(col("lb"))).head()
    if (tRow.isNullAt(0)) return 0L
    scored.where(col("chat") + col("bb") >= tRow.getDouble(0) - 2e-4).count()
  }

  def dispose(): Unit = data.unpersist(blocking = false)

  /** Persist: one parquet table (id, vector, code) — codes and floats as
    * SIBLING COLUMN CHUNKS of the same rows, so a loaded search decodes
    * float pages only for bound-surviving rows (late materialization) —
    * plus the dim-sized quantizer as JSON. */
  def save(dir: String): Unit = {
    data.write.mode("overwrite").parquet(s"$dir/sq_data")
    val j = s"""{"mins":[${mins.mkString(",")}],"steps":[${steps.mkString(",")}]}"""
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$dir/sq_quantizer.json"), j)
  }
}

object SQIndex {

  /** Load a saved index: the data frame is lazily scanned (a 100 TB corpus
    * is NOT materialized at load — the same lazy-load discipline as the
    * facade's `lazyLoad`), the quantizer is two dim-sized arrays. */
  def load(spark: org.apache.spark.sql.SparkSession, dir: String): SQIndex = {
    val j = java.nio.file.Files.readString(java.nio.file.Paths.get(s"$dir/sq_quantizer.json"))
    def arr(key: String): Array[Double] = {
      val m = java.util.regex.Pattern.compile("\"" + key + "\":\\[([^\\]]*)\\]").matcher(j)
      require(m.find(), s"quantizer missing $key in $dir")
      m.group(1).split(",").map(_.trim.toDouble)
    }
    val df = spark.read.parquet(s"$dir/sq_data")
    // artifacts saved before the cosine arm lack `nrm` — derive it in the
    // scan projection (costs the float pages once; re-save to persist it)
    val withNrm =
      if (df.columns.contains("nrm")) df
      else df.withColumn("nrm",
        sqrt(VectorFunctions.dot(col("vector"), col("vector"))))
    new SQIndex(withNrm, arr("mins"), arr("steps"))
  }

  /** Train the per-dimension affine quantizer (one distributed min/max agg
    * — FAISS's `RangeStat_minmax`) and encode every vector to bytes in one
    * projection. Zero-width dimensions get step 0 and code 0 (exactly
    * representable), avoiding 0/0. */
  def build(vectors: DataFrame, idCol: String, vecCol: String,
            keep: Seq[String] = Nil): SQIndex = {
    val v = vectors.select(col(idCol).as("id") +:
      col(vecCol).cast("array<double>").as("vector") +: keep.map(col): _*)
    // Per-dim range via posexplode + groupBy(pos): partial min/max combine
    // on the map side means the shuffle carries dim·partitions rows no
    // matter the corpus size — and the plan is dim-generic (no dim-wide
    // aggregate projection for janino to chew on).
    val stats = v.select(posexplode(col("vector")).as(Seq("pos", "x")))
      .groupBy(col("pos")).agg(min(col("x")).as("lo"), max(col("x")).as("hi"))
      .orderBy(col("pos")).collect()
    val dim = stats.length
    val mins = stats.map(_.getDouble(1))
    val maxs = stats.map(_.getDouble(2))
    val steps = mins.zip(maxs).map { case (lo, hi) => (hi - lo) / 255.0 }
    val minsL = VectorFunctions.vecLit(mins)
    val stepsL = VectorFunctions.vecLit(steps)
    // `nrm` (exact float norm, one double per row) rides next to the codes
    // so the cosine arm's bound scan never touches the vector pages
    val coded = v.select(col("id") +: col("vector") +:
        zip_with(col("vector"), sequence(lit(0), lit(dim - 1)), (x, i) => {
          val s = element_at(stepsL, i + lit(1))
          when(s === 0.0, lit(0))
            .otherwise(round((x - element_at(minsL, i + lit(1))) / s).cast("int"))
        }).as("code") +:
        sqrt(VectorFunctions.dot(col("vector"), col("vector"))).as("nrm") +:
        keep.map(col): _*)
      .persist(StorageLevel.MEMORY_AND_DISK)
    new SQIndex(coded, mins, steps)
  }
}

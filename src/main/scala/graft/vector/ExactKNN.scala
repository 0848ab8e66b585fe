package graft.vector

import graft.expr.VecKernels
import graft.functions.VectorFunctions._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Exact (brute-force) K-nearest-neighbor search — the reference's `flat`
  * index (faiss.IndexFlatL2, local_db.py:48, 173–176).
  *
  * One plan for one query and for a query matrix: the fused
  * [[graft.plans.KnnTopK]] operator scans the corpus once, scores every
  * row against the broadcast query block in compiled Scala and keeps a
  * bounded heap per query; the heaps merge on the driver for a `collect`.
  * A single query ([[topK]]) is a block of one. Only k rows per query per
  * partition ever leave the executors, so this holds at 100 TB as long as
  * k is small.
  */
object ExactKNN {

  /** A metric as Column expressions, plus `scoreOf`: the same score of one
    * (row, query) pair in compiled Scala over the common prefix, bit-equal
    * to `score(dist(row, query))` (the fused batch operator's path). */
  sealed trait Metric {
    def dist(a: Column, b: Column): Column
    def score(d: Column): Column
    def scoreOf(x: Array[Double], q: Array[Double]): Double
  }
  /** squared L2 + 1/(1+d) — the reference's scoring (local_db.py:169–176). */
  case object L2Sq extends Metric {
    def dist(a: Column, b: Column): Column = squaredL2(a, b)
    def score(d: Column): Column = distToScore(d)
    def scoreOf(x: Array[Double], q: Array[Double]): Double =
      1.0 / (1.0 + VecKernels.squaredL2(x, q, math.min(x.length, q.length)))
  }
  /** true L2 + 1/(1+d) — reference hybrid small-N path (local_db.py:377–378). */
  case object L2 extends Metric {
    def dist(a: Column, b: Column): Column = l2(a, b)
    def score(d: Column): Column = distToScore(d)
    def scoreOf(x: Array[Double], q: Array[Double]): Double =
      1.0 / (1.0 + math.sqrt(VecKernels.squaredL2(x, q, math.min(x.length, q.length))))
  }
  /** cosine similarity (higher = closer); dist = −cos so one code path. */
  case object Cosine extends Metric {
    def dist(a: Column, b: Column): Column = -cosine(a, b)
    def score(d: Column): Column = -d
    def scoreOf(x: Array[Double], q: Array[Double]): Double =
      VecKernels.cosine(x, q, math.min(x.length, q.length))
  }

  /** Score every row: (id, score). No top-k — callers compose. */
  def scoreAll(data: DataFrame, idCol: String, vecCol: String,
               query: Array[Double], metric: Metric = L2Sq): DataFrame = {
    val q = vecLit(query)
    data.select(col(idCol).as("id"),
      metric.score(metric.dist(col(vecCol), q)).as("score"))
  }

  /** Single-query top-k: (id, score), score desc, deterministic id-asc
    * tie-break on the unrounded score (the reference leaves ties to numpy
    * argsort; we pin them, SURVEY §2.5.7) — [[topKBatch]] over the block
    * of one. */
  def topK(data: DataFrame, idCol: String, vecCol: String,
           query: Array[Double], k: Int, metric: Metric = L2Sq): DataFrame =
    topKBatch(data, idCol, vecCol, graft.plans.KnnTopK.block(data.sparkSession, Seq((0L, query))),
      "qid", "qv", k, metric).select(col("id"), col("score"))

  /** Batch top-k: every row of `queries` (qidCol, qvecCol) against every row
    * of `data` — the bulk-similarity-join workload, `IndexFlatL2.search`
    * over a query matrix.
    *
    * Plan: the fused [[graft.plans.KnnTopK]] operator. The query block is
    * broadcast; each corpus partition scores its rows against every query
    * and keeps one bounded heap per query, so no (row, query) pair is ever
    * materialized, joined or sorted; ≤ k rows per query per partition
    * reach the merge (on the driver for a `collect`), whose output
    * order (qid asc, score desc, id asc) is the result order. Ties on the
    * unrounded score break by id asc. The query block must fit a
    * broadcast; a corpus-sized query side is the k-NN graph's job
    * ([[IVFIndex.knnGraph]], [[LSHIndex.knnGraph]]). */
  def topKBatch(data: DataFrame, idCol: String, vecCol: String,
                queries: DataFrame, qidCol: String, qvecCol: String,
                k: Int, metric: Metric = L2Sq): DataFrame =
    graft.plans.KnnTopK(
      data.select(col(idCol).as("id"), col(vecCol).as("vector")),
      queries.select(col(qidCol).as("qid"), col(qvecCol).as("qv")),
      k, graft.plans.KnnScorer.Exact(metric))

  /** Alias of [[topKBatch]]. */
  def topKBatchHeap(data: DataFrame, idCol: String, vecCol: String,
                    queries: DataFrame, qidCol: String, qvecCol: String,
                    k: Int, metric: Metric = L2Sq): DataFrame =
    topKBatch(data, idCol, vecCol, queries, qidCol, qvecCol, k, metric)
}

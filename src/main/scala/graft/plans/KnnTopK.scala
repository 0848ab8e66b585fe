package graft.plans

import graft.expr.VecKernels
import graft.text.BM25
import graft.vector.ExactKNN
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, GraftColumnBridge, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, AttributeReference, AttributeSet, BindReferences, BoundReference, Descending, GenericInternalRow, InterpretedOrdering, InterpretedUnsafeProjection, Literal, NamedExpression, Round, SortOrder}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan, Project, Sort}
import org.apache.spark.sql.catalyst.plans.physical.{Distribution, Partitioning, SinglePartition, UnknownPartitioning, UnspecifiedDistribution}
import org.apache.spark.sql.catalyst.util.{ArrayData, SQLOrderingUtil}
import org.apache.spark.sql.execution.{BinaryExecNode, SQLExecution, SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.execution.metric.{SQLMetric, SQLMetrics}
import org.apache.spark.sql.functions.{array_contains, col, typedLit}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, IntegerType, LongType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

import scala.collection.mutable

/** How the fused batch-KNN operator scores one corpus row against the
  * query block. The corpus child's columns are, in order, `columns`; the
  * query child's are (qid, qv), qv a vector except for [[KnnScorer.Bm25]]. */
sealed trait KnnScorer extends Serializable {
  def columns: Seq[String]
  /** Output scores rounded to 4 dp (selection still uses the unrounded score). */
  def roundScores: Boolean = false
  def describe: String
}

object KnnScorer {
  /** Every (row, query) pair scored by `metric` on the float vectors. */
  final case class Exact(metric: ExactKNN.Metric) extends KnnScorer {
    def columns: Seq[String] = Seq("id", "vector")
    def describe: String = s"exact $metric"
  }

  /** SQ8 branch-and-bound by squared L2 (see [[graft.vector.SQIndex]] for the
    * interval bound and the rounded-tie slack): a pair is pruned when
    * d̂ − B exceeds the query heap's current k-th distance T plus
    * 2e-4·(1+T)², otherwise reranked on the float vector. */
  final case class Sq8L2(mins: Array[Double], steps: Array[Double]) extends KnnScorer {
    def columns: Seq[String] = Seq("id", "vector", "code")
    override def roundScores: Boolean = true
    def describe: String = "sq8 l2sq"
  }

  /** SQ8 branch-and-bound by cosine: a pair is pruned when the upper bound
    * (x̂·q + B_q)/(‖x‖‖q‖) falls below the heap's current k-th cosine
    * minus 2e-4. Zero-norm rows and queries (cosine undefined) are never
    * scored. */
  final case class Sq8Cosine(mins: Array[Double], steps: Array[Double]) extends KnnScorer {
    def columns: Seq[String] = Seq("id", "vector", "code", "nrm")
    override def roundScores: Boolean = true
    def describe: String = "sq8 cosine"
  }

  /** A scorer over an IVF-celled corpus (a `cluster` column): a row is
    * scored only against the queries whose probe set holds its cell. */
  sealed trait CellProbe extends KnnScorer {
    def centroids: Array[(Int, Array[Double])]
    /** The cells query vector `q` (null for a null vector) probes. */
    def probe(q: Array[Double]): Array[Int]
    /** The union of the probe sets of `qs`, or None when it is every cell:
      * the rows a corpus-side `cluster IN (…)` filter may drop unscored. */
    def probedCells(qs: Seq[Array[Double]]): Option[Seq[Int]] = {
      val cells = qs.iterator.flatMap(probe).toSet
      if (centroids.forall(c => cells(c._1))) None else Some(cells.toSeq.sorted)
    }
  }

  /** IVF probe: a pair is scored only when the row's cell is among the
    * query's `nprobe` nearest centroids (squared L2, ties by cluster id). */
  final case class IvfCells(metric: ExactKNN.Metric, centroids: Array[(Int, Array[Double])],
                            nprobe: Int) extends CellProbe {
    def columns: Seq[String] = Seq("id", "vector", "cluster")
    def describe: String = s"ivf nprobe=$nprobe $metric"
    /** A null query vector probes the lowest cluster ids (null distances
      * sort first) and scores null there. */
    def probe(q: Array[Double]): Array[Int] =
      if (q == null) centroids.map(_._1).sorted.take(math.max(1, nprobe))
      else VecKernels.nearestClusters(q, centroids, nprobe)
  }

  /** Product-quantized ADC: d̂ = Σ_s table_q[s·kk + code_s], folded in
    * ascending s, score 1/(1+d̂). Each query's tables are built once per
    * task with [[VecKernels.adcTable]]. With no `centroids` the codes are
    * plain PQ: one implicit zero centroid, every row scored. Otherwise they
    * are residuals against the row's `cluster` cell, and a pair is scored
    * only when that cell is among the query's `nprobe` nearest centroids
    * (as [[IvfCells]]; a null query vector probes nothing). A code outside
    * its codebook, a codes row not m long, or (residual codes) a qid held
    * by two queries fails the task with a named error. */
  final case class Adc(codebooks: Array[Array[Array[Double]]],
                       centroids: Array[(Int, Array[Double])], nprobe: Int) extends CellProbe {
    def columns: Seq[String] =
      if (centroids.isEmpty) Seq("id", "codes") else Seq("id", "codes", "cluster")
    def describe: String = if (centroids.isEmpty) "pq adc" else s"residual pq adc nprobe=$nprobe"
    /** Plain PQ: the one implicit cell 0. */
    def probe(q: Array[Double]): Array[Int] =
      if (centroids.isEmpty) Array(0)
      else if (q == null) Array.empty[Int]
      else VecKernels.nearestClusters(q, centroids, nprobe)
  }

  /** LSH bucket probe: a pair is scored by `metric` only when, in some
    * table t, the row's bucket h_t is within `radius` of the query's,
    * |h_t − qb_t| ≤ radius. Rows with null hashes are never scored. */
  final case class LshBuckets(planes: Array[Array[Double]], bucketLength: Double,
                              radius: Int, metric: ExactKNN.Metric) extends KnnScorer {
    def columns: Seq[String] = Seq("id", "vector", "hashes")
    def describe: String = s"lsh radius=$radius $metric"
  }

  /** Okapi BM25 over the index's forward frame (sorted distinct `terms`,
    * aligned `tfs`, `dl`): qv is the query's weighted-term payload
    * ([[BM25.payloadType]]). A pair is scored by [[BM25.fold]] only when
    * the doc shares a term with the query and, for a qid in `only`, its id
    * is listed there (qids and ids LONG); the rest count as skipped. */
  final case class Bm25(stats: BM25.Stats, only: Map[Long, Set[Long]] = Map.empty)
      extends KnnScorer {
    def columns: Seq[String] = Seq("id", "terms", "tfs", "dl")
    def describe: String = "bm25"
  }
}

/** Fused batch k-nearest-neighbour search: every corpus row (left) against
  * the query block (right, collected and broadcast), keeping a bounded
  * heap per query, in one pass — the Spark form of `IndexFlatL2.search`
  * over a query matrix.
  * The |corpus|×|Q| pairs are never materialized: each task scores its
  * rows against every query in plain compiled Scala ([[VecKernels]], the
  * same loops the codegen'd expressions' interpreted twins run, so scores
  * are bit-equal to them) and emits at most k rows per query; the merge
  * ([[KnnTopKMergeExec]]) takes each query's global k best and outputs
  * (qid, id, score) in (qid asc, score desc, id asc) order. A `collect`
  * of the result is one job, the merge running on the driver as task
  * results arrive; a plan that consumes the rows reads the merged rows
  * from one partition.
  *
  * Rank order is (unrounded score desc — Spark's double order, so NaN
  * first and null last — then id asc). Queries with equal qids share a
  * heap. Output: (qid, id, score). */
case class KnnTopK(k: Int, scorer: KnnScorer, corpusCols: Seq[Attribute],
                   qid: Attribute, qv: Attribute, score: Attribute,
                   left: LogicalPlan, right: LogicalPlan) extends BinaryNode {
  override def output: Seq[Attribute] = Seq(qid, corpusCols.head, score)
  override def producedAttributes: AttributeSet = AttributeSet(score)
  override def stringArgs: Iterator[Any] = Iterator(k, scorer.describe)
  override protected def withNewChildrenInternal(l: LogicalPlan, r: LogicalPlan): KnnTopK =
    copy(left = l, right = r)
}

/** Per-partition phase: scores the local corpus rows against the
  * broadcast queries and emits each query heap (≤ k rows per qid). The
  * query child is read with `executeCollect` and broadcast here, so a
  * local block (`LocalTableScanExec`) costs no job and any other plan the
  * one job a `BroadcastExchangeExec` would run. */
case class KnnTopKExec(k: Int, scorer: KnnScorer, corpusCols: Seq[Attribute],
                       qid: Attribute, qv: Attribute, score: Attribute,
                       left: SparkPlan, right: SparkPlan) extends BinaryExecNode {
  override def output: Seq[Attribute] = Seq(qid, corpusCols.head, score)
  override def outputPartitioning: Partitioning =
    UnknownPartitioning(left.outputPartitioning.numPartitions)
  override def requiredChildDistribution: Seq[Distribution] =
    UnspecifiedDistribution :: UnspecifiedDistribution :: Nil
  override def stringArgs: Iterator[Any] = Iterator(k, scorer.describe)

  override lazy val metrics: Map[String, SQLMetric] = Map(
    "pairsScored" -> SQLMetrics.createMetric(sparkContext, "pairs scored"),
    "sq8Pruned" -> SQLMetrics.createMetric(sparkContext, "pairs pruned by SQ8 bound"),
    // counts only rows that reach the operator: rows a corpus-side
    // restriction (KnnTopK.Restrict) removed below it are not pairs here
    "probeSkipped" -> SQLMetrics.createMetric(sparkContext,
      "pairs skipped by probe (IVF or PQ cell, LSH bucket, no shared BM25 term)"),
    "numOutputRows" -> SQLMetrics.createMetric(sparkContext, "number of output rows"))

  override protected def doExecute(): RDD[InternalRow] = {
    val queries: Broadcast[Array[InternalRow]] = sparkContext.broadcast(right.executeCollect())
    val kk = k
    val sc = scorer
    def ordinal(a: Attribute, in: Seq[Attribute]): Int = {
      val i = in.indexWhere(_.exprId == a.exprId)
      require(i >= 0, s"$a is not in ${in.mkString(",")}")
      i
    }
    val ords = corpusCols.map(ordinal(_, left.output))
    val types = corpusCols.map(_.dataType)
    val qOrd = ordinal(qid, right.output)
    val qvOrd = ordinal(qv, right.output)
    val qidType = qid.dataType
    val qvFloat = KnnTopK.isFloatArray(qv.dataType)
    val (mScored, mPruned, mSkipped, mOut) = (metrics("pairsScored"),
      metrics("sq8Pruned"), metrics("probeSkipped"), metrics("numOutputRows"))
    left.execute().mapPartitions { rows =>
      val qrows = queries.value
      if (kk <= 0 || qrows.isEmpty) Iterator.empty
      else {
        val block = new KnnTopK.QueryBlock(qrows, qOrd, qidType, qvOrd, qvFloat)
        val idOrd = KnnTopK.ordering(types.head)
        val heaps = Array.fill(block.nGroups)(new KnnHeap(kk, idOrd))
        val counts = new Array[Long](3) // scored, pruned, skipped
        val scan = KnnTopK.rowScanner(sc, block, heaps, ords, types, counts)
        rows.foreach(scan)
        mScored += counts(0); mPruned += counts(1); mSkipped += counts(2)
        val out = KnnTopK.emitter(qidType, types.head)
        heaps.indices.iterator.flatMap { g =>
          heaps(g).sorted.iterator.map { h =>
            mOut += 1
            out(block.groupQid(g), h.id, if (h.isNull) null else h.score)
          }
        }
      }
    }
  }

  override protected def withNewChildrenInternal(l: SparkPlan, r: SparkPlan): KnnTopKExec =
    copy(left = l, right = r)
}

/** Final phase: merges the per-partition heaps per qid into (qid asc,
  * score desc, id asc), rounding scores to 4 dp when the scorer says so
  * (selection is by the unrounded score, the output order by the rounded
  * one, then id), then applies `projectList` and, when given, re-sorts by
  * `sortOrder` (over the projected output). Spark's own global top-k idiom
  * (`TakeOrderedAndProjectExec`): the node requires no child distribution,
  * so the planner adds no exchange and adaptive execution runs no stage
  * job for it, and a caller's projection and sort above the search (a
  * single query's (id, score) under its sort) run inside it on the ≤ k·|Q|
  * merged rows. `executeCollect` runs the per-partition pass as one job
  * and merges each task's heaps into the driver-side heaps as the task's
  * result arrives, so the driver holds at most k·|Q| rows plus one task's
  * output. A plan that consumes the rows (a join or an aggregate above)
  * reads those rows from one partition: bounded by the broadcast query
  * block, they need no shuffle. */
case class KnnTopKMergeExec(k: Int, roundScores: Boolean, qid: Attribute, idAttr: Attribute,
                            score: Attribute, projectList: Seq[NamedExpression],
                            sortOrder: Seq[SortOrder], child: SparkPlan) extends UnaryExecNode {
  override def output: Seq[Attribute] = projectList.map(_.toAttribute)
  override def outputPartitioning: Partitioning = SinglePartition
  override def outputOrdering: Seq[SortOrder] =
    if (sortOrder.nonEmpty) sortOrder
    else if (output == child.output)
      Seq(SortOrder(qid, Ascending), SortOrder(score, Descending), SortOrder(idAttr, Ascending))
    else Nil
  override def stringArgs: Iterator[Any] = Iterator(k, roundScores, projectList, sortOrder)

  override lazy val metrics: Map[String, SQLMetric] = Map(
    "numOutputRows" -> SQLMetrics.createMetric(sparkContext, "number of output rows"))

  override def executeCollect(): Array[InternalRow] = {
    val m = new KnnTopK.Merge(k, roundScores, qid.dataType, idAttr.dataType)
    sparkContext.runJob(child.execute(), (rows: Iterator[InternalRow]) => rows.map(_.copy()).toArray,
      (_: Int, rows: Array[InternalRow]) => rows.foreach(m.offer))
    val proj = InterpretedUnsafeProjection.createProjection(
      BindReferences.bindReferences(projectList, child.output))
    val projected: Array[InternalRow] = m.result().map(r => proj(r).copy())
    val out =
      if (sortOrder.isEmpty) projected
      else { val ord = new InterpretedOrdering(sortOrder, output); projected.sortWith(ord.lt) }
    val mOut = metrics("numOutputRows")
    mOut += out.length
    SQLMetrics.postDriverMetricUpdates(sparkContext,
      sparkContext.getLocalProperty(SQLExecution.EXECUTION_ID_KEY), Seq(mOut))
    out
  }

  override protected def doExecute(): RDD[InternalRow] =
    sparkContext.parallelize(executeCollect().toSeq, 1)

  override protected def withNewChildInternal(c: SparkPlan): KnnTopKMergeExec = copy(child = c)
}

/** One retained (row, query) hit; `isNull` = null score (a null vector).
  * `dist` is the squared-L2 distance the SQ8 bound compares against. */
final class KnnHit(val isNull: Boolean, val score: Double, val id: Any, val dist: Double)

/** Bounded heap of the k best hits under (score desc, id asc); the root
  * is the worst retained hit. Storage grows with the hits kept, so a
  * k far above the row count costs nothing up front. */
final class KnnHeap(k: Int, idOrd: Ordering[Any]) {
  private val hits = mutable.ArrayBuffer.empty[KnnHit]
  private def n: Int = hits.length

  def full: Boolean = n >= k
  def worst: KnnHit = hits(0)

  /** Keeps the hit if it ranks among the k best; `id` is copied on keep. */
  def offer(isNull: Boolean, score: Double, id: Any, dist: Double = Double.NaN): Unit =
    if (k > 0) {
      if (n < k) {
        hits += new KnnHit(isNull, score, InternalRow.copyValue(id), dist)
        siftUp(n - 1)
      } else if (KnnHeap.ranks(idOrd, isNull, score, id, hits(0)) > 0) {
        hits(0) = new KnnHit(isNull, score, InternalRow.copyValue(id), dist)
        siftDown(0)
      }
    }

  private def worse(i: Int, j: Int): Boolean = {
    val a = hits(i)
    KnnHeap.ranks(idOrd, a.isNull, a.score, a.id, hits(j)) < 0
  }

  private def swap(i: Int, j: Int): Unit = { val t = hits(i); hits(i) = hits(j); hits(j) = t }

  private def siftUp(i0: Int): Unit = {
    var i = i0
    while (i > 0 && worse(i, (i - 1) / 2)) { swap(i, (i - 1) / 2); i = (i - 1) / 2 }
  }

  private def siftDown(i0: Int): Unit = {
    var i = i0
    var done = false
    while (!done) {
      val l = 2 * i + 1; val r = l + 1
      var w = i
      if (l < n && worse(l, w)) w = l
      if (r < n && worse(r, w)) w = r
      if (w == i) done = true else { swap(i, w); i = w }
    }
  }

  /** The retained hits, best first. */
  def sorted: Array[KnnHit] =
    hits.toArray.sortWith((a, b) => KnnHeap.ranks(idOrd, a.isNull, a.score, a.id, b) > 0)
}

object KnnHeap {
  /** > 0 when hit a ranks before hit b: score desc in Spark's double order
    * (NaN above every number, null last), then id asc. */
  def ranks(idOrd: Ordering[Any], aNull: Boolean, aScore: Double, aId: Any, b: KnnHit): Int = {
    val c =
      if (aNull || b.isNull) java.lang.Boolean.compare(b.isNull, aNull)
      else SQLOrderingUtil.compareDoubles(aScore, b.score)
    if (c != 0) c else -idOrd.compare(aId, b.id)
  }
}

object KnnTopK {

  /** Ascending order over one column's values, nulls first. */
  def ordering(dt: DataType): Ordering[Any] = {
    val typed: (Any, Any) => Int = dt match {
      case LongType => (a, b) => java.lang.Long.compare(a.asInstanceOf[Long], b.asInstanceOf[Long])
      case IntegerType => (a, b) => Integer.compare(a.asInstanceOf[Int], b.asInstanceOf[Int])
      case _ =>
        val ord = InterpretedOrdering.forSchema(Seq(dt))
        (a, b) => ord.compare(new GenericInternalRow(Array[Any](a)), new GenericInternalRow(Array[Any](b)))
    }
    (a: Any, b: Any) =>
      if (a == null) { if (b == null) 0 else -1 }
      else if (b == null) 1
      else typed(a, b)
  }

  private object NullKey
  def groupKey(v: Any): Any = if (v == null) NullKey else v

  def isFloatArray(dt: DataType): Boolean =
    dt.asInstanceOf[org.apache.spark.sql.types.ArrayType].elementType == FloatType

  /** The broadcast query block, decoded once per task: dense query
    * vectors (null for a null vector; vector scorers only) and a heap
    * group per distinct qid. */
  final class QueryBlock(val rows: Array[InternalRow], qOrd: Int, qidType: DataType,
                         val qvOrd: Int, qvFloat: Boolean) {
    lazy val vecs: Array[Array[Double]] = rows.map(vectorOf(_, qvOrd, qvFloat))
    private val groups = mutable.HashMap.empty[Any, Int]
    private val qids = mutable.ArrayBuffer.empty[Any]
    /** Heap group of each query. */
    val group: Array[Int] = rows.map { r =>
      val q = if (r.isNullAt(qOrd)) null else InternalRow.copyValue(r.get(qOrd, qidType))
      groups.getOrElseUpdate(groupKey(q), { qids += q; qids.length - 1 })
    }
    /** qid of each heap group. */
    val groupQid: Array[Any] = qids.toArray
    def size: Int = rows.length
    def nGroups: Int = groupQid.length
  }

  private def vectorOf(row: InternalRow, ord: Int, isFloat: Boolean): Array[Double] =
    if (row.isNullAt(ord)) null
    else { val a = row.getArray(ord); VecKernels.toDoubles(a, isFloat, a.numElements()) }

  /** cell → the queries whose probe set `probe(j)` holds it. */
  private def byCell(nq: Int, probe: Int => Array[Int]): Map[Int, Array[Int]] = {
    val cells = mutable.HashMap.empty[Int, mutable.ArrayBuffer[Int]]
    (0 until nq).foreach(j => probe(j).foreach(c => cells.getOrElseUpdate(c, mutable.ArrayBuffer.empty) += j))
    cells.view.mapValues(_.toArray).toMap
  }

  /** Slack on the SQ8 L2 pruning threshold: rows that could tie the k-th
    * after 4-dp rounding are kept (see [[graft.vector.SQIndex]]). */
  private def l2Slack(t: Double): Double = t + 2e-4 * (1.0 + t) * (1.0 + t)

  /** The per-row body of the partition pass for `scorer`. `counts` =
    * (pairs scored, pairs pruned by the SQ8 bound, pairs skipped by probe). */
  def rowScanner(scorer: KnnScorer, qs: QueryBlock, heaps: Array[KnnHeap],
                 ords: Seq[Int], types: Seq[DataType],
                 counts: Array[Long]): InternalRow => Unit = {
    val idOrd = ords.head; val idType = types.head
    val vOrd = ords(1); val vFloat = isFloatArray(types(1))
    val nq = qs.size
    def offerExact(heap: KnnHeap, metric: ExactKNN.Metric, v: Array[Double], q: Array[Double],
                   id: Any): Unit =
      if (v == null || q == null) heap.offer(isNull = true, 0.0, id)
      else heap.offer(isNull = false, metric.scoreOf(v, q), id)
    scorer match {
      case KnnScorer.Exact(metric) => row => {
        val id = if (row.isNullAt(idOrd)) null else row.get(idOrd, idType)
        val v = vectorOf(row, vOrd, vFloat)
        var j = 0
        while (j < nq) {
          offerExact(heaps(qs.group(j)), metric, v, qs.vecs(j), id)
          j += 1
        }
        counts(0) += nq
      }

      case ivf @ KnnScorer.IvfCells(metric, _, _) =>
        val cOrd = ords(2)
        val cells = byCell(nq, j => ivf.probe(qs.vecs(j)))
        val none = Array.empty[Int]
        row => {
          val js = if (row.isNullAt(cOrd)) none else cells.getOrElse(row.getInt(cOrd), none)
          counts(2) += nq - js.length
          if (js.nonEmpty) {
            val id = if (row.isNullAt(idOrd)) null else row.get(idOrd, idType)
            val v = vectorOf(row, vOrd, vFloat)
            var i = 0
            while (i < js.length) {
              val j = js(i)
              offerExact(heaps(qs.group(j)), metric, v, qs.vecs(j), id)
              i += 1
            }
            counts(0) += js.length
          }
        }

      case adc @ KnnScorer.Adc(codebooks, centroids, _) =>
        val codesOrd = ords(1)
        val residual = centroids.nonEmpty
        val cOrd = if (residual) ords(2) else -1
        val label = if (residual) "ResidualPQ" else "PQIndex"
        val m = codebooks.length
        val kk = codebooks.map(_.length).max
        val subDim = codebooks.head.head.length
        val cens = if (residual) centroids.toMap else Map(0 -> new Array[Double](m * subDim))
        if (residual && qs.nGroups < qs.size) {
          val dup = qs.group.indices.find(j => qs.group.indexOf(qs.group(j)) != j).get
          throw new IllegalArgumentException(
            s"duplicate qid in ResidualPQ.searchBatch: ${qs.groupQid(qs.group(dup))}")
        }
        val cells = byCell(nq, j => adc.probe(qs.vecs(j)))
        // per probed cell, its queries and their tables (null for a null query)
        val probes = cells.map { case (c, js) => c -> (js, js.map { j =>
          val q = qs.vecs(j)
          if (q == null) null
          else { val t = new Array[Double](m * kk); VecKernels.adcTable(q, cens(c), codebooks, subDim, kk, t, 0); t }
        }) }
        val none = (Array.empty[Int], Array.empty[Array[Double]])
        val codes = new Array[Int](m)
        row => {
          val cell = if (!residual) 0 else if (row.isNullAt(cOrd)) -1 else row.getInt(cOrd)
          val (js, ts) = probes.getOrElse(cell, none)
          counts(2) += nq - js.length
          if (js.nonEmpty) {
            val id = if (row.isNullAt(idOrd)) null else row.get(idOrd, idType)
            val hasCodes = !row.isNullAt(codesOrd)
            if (hasCodes) {
              val arr = row.getArray(codesOrd)
              require(arr.numElements() == m,
                s"$label codes row $id has ${arr.numElements()} codes, expected $m")
              var s = 0
              while (s < m) {
                val code = arr.getInt(s)
                require(code >= 0 && code < codebooks(s).length,
                  s"$label codes row $id has code $code outside the trained codebooks")
                codes(s) = code; s += 1
              }
            }
            var i = 0
            while (i < js.length) {
              val heap = heaps(qs.group(js(i)))
              val t = ts(i)
              if (t == null || !hasCodes) heap.offer(isNull = true, 0.0, id)
              else {
                var d = 0.0; var s = 0
                while (s < m) { d += t(s * kk + codes(s)); s += 1 }
                heap.offer(isNull = false, 1.0 / (1.0 + d), id)
              }
              i += 1
            }
            counts(0) += js.length
          }
        }

      case KnnScorer.LshBuckets(planes, bucketLength, radius, metric) =>
        val hOrd = ords(2)
        val qb = qs.vecs.map(q =>
          if (q == null) null else planes.map(VecKernels.lshBucket(q, _, bucketLength)))
        def inSomeBucket(h: ArrayData, b: Array[Int]): Boolean = {
          var t = 0
          val nt = math.min(h.numElements(), b.length)
          while (t < nt) {
            if (!h.isNullAt(t) && math.abs(h.getInt(t).toLong - b(t)) <= radius) return true
            t += 1
          }
          false
        }
        row => {
          val h = if (row.isNullAt(hOrd)) null else row.getArray(hOrd)
          var loaded = false
          var id: Any = null
          var v: Array[Double] = null
          var j = 0
          while (j < nq) {
            if (h != null && qb(j) != null && inSomeBucket(h, qb(j))) {
              if (!loaded) {
                id = if (row.isNullAt(idOrd)) null else row.get(idOrd, idType)
                v = vectorOf(row, vOrd, vFloat)
                loaded = true
              }
              offerExact(heaps(qs.group(j)), metric, v, qs.vecs(j), id)
              counts(0) += 1
            } else counts(2) += 1
            j += 1
          }
        }

      case KnnScorer.Bm25(stats, only) =>
        val termsOrd = ords(1); val tfsOrd = ords(2); val dlOrd = ords(3)
        val queries = qs.rows.map(r =>
          stats.query(if (r.isNullAt(qs.qvOrd)) null else r.getArray(qs.qvOrd)))
        val allowed: Array[Set[Long]] = qs.group.map(g =>
          if (only.isEmpty) null else only.getOrElse(qs.groupQid(g).asInstanceOf[Long], null))
        // term → the queries weighting it: a row is folded only against
        // the queries it shares a term with, each once
        val byTerm = new java.util.HashMap[UTF8String, mutable.ArrayBuffer[Int]]()
        queries.indices.foreach(j => queries(j).terms.foreach(t =>
          byTerm.computeIfAbsent(t, _ => mutable.ArrayBuffer.empty) += j))
        val folded = Array.fill(nq)(-1L)
        var rowNo = 0L
        row => {
          rowNo += 1
          var shared = 0
          if (!row.isNullAt(termsOrd)) {
            val terms = row.getArray(termsOrd)
            val tfs = row.getArray(tfsOrd)
            val dl = row.getInt(dlOrd).toDouble
            val id = if (row.isNullAt(idOrd)) null else row.get(idOrd, idType)
            var t = 0
            while (t < terms.numElements()) {
              val js = byTerm.get(terms.getUTF8String(t))
              if (js != null) js.foreach { j =>
                if (folded(j) != rowNo &&
                    (allowed(j) == null || allowed(j).contains(id.asInstanceOf[Long]))) {
                  folded(j) = rowNo
                  heaps(qs.group(j)).offer(isNull = false, BM25.fold(stats, queries(j), terms, tfs, dl), id)
                  shared += 1
                }
              }
              t += 1
            }
          }
          counts(0) += shared; counts(2) += nq - shared
        }

      case KnnScorer.Sq8L2(mins, steps) =>
        val codeOrd = ords(2)
        row => if (!row.isNullAt(codeOrd) && !row.isNullAt(vOrd)) {
          val code = row.getArray(codeOrd)
          val xhat = VecKernels.dequantize(code, mins, steps, math.min(code.numElements(), mins.length))
          if (xhat != null) {
            val id = if (row.isNullAt(idOrd)) null else row.get(idOrd, idType)
            var v: Array[Double] = null
            var j = 0
            while (j < nq) {
              val q = qs.vecs(j)
              if (q != null) {
                val heap = heaps(qs.group(j))
                val n = math.min(xhat.length, q.length)
                val pruned = heap.full && {
                  val lb = VecKernels.squaredL2(xhat, q, n) - VecKernels.bandBound(xhat, q, steps, n)
                  lb > l2Slack(heap.worst.dist)
                }
                if (pruned) counts(1) += 1
                else {
                  if (v == null) v = vectorOf(row, vOrd, vFloat)
                  if (v != null) {
                    val d = VecKernels.squaredL2(v, q, math.min(v.length, q.length))
                    heap.offer(isNull = false, 1.0 / (1.0 + d), id, d)
                    counts(0) += 1
                  }
                }
              }
              j += 1
            }
          }
        }

      case KnnScorer.Sq8Cosine(mins, steps) =>
        val codeOrd = ords(2); val nrmOrd = ords(3)
        // per-query ‖q‖ and B_q = Σ s_i·|q_i| / 2, once per task
        val qn = qs.vecs.map(q => if (q == null) 0.0 else math.sqrt(VecKernels.dot(q, q, q.length)))
        val bq = qs.vecs.map(q => if (q == null) 0.0
          else VecKernels.dot(q.map(math.abs), steps, math.min(q.length, steps.length)) / 2.0)
        row => if (!row.isNullAt(codeOrd) && !row.isNullAt(vOrd) && !row.isNullAt(nrmOrd)
            && row.getDouble(nrmOrd) > 0) {
          val nrm = row.getDouble(nrmOrd)
          val code = row.getArray(codeOrd)
          val xhat = VecKernels.dequantize(code, mins, steps, math.min(code.numElements(), mins.length))
          if (xhat != null) {
            val id = if (row.isNullAt(idOrd)) null else row.get(idOrd, idType)
            var v: Array[Double] = null
            var j = 0
            while (j < nq) {
              val q = qs.vecs(j)
              if (q != null && qn(j) > 0) {
                val heap = heaps(qs.group(j))
                val pruned = heap.full && {
                  val den = nrm * qn(j)
                  val ub = VecKernels.dot(xhat, q, math.min(xhat.length, q.length)) / den + bq(j) / den
                  ub < heap.worst.score - 2e-4
                }
                if (pruned) counts(1) += 1
                else {
                  if (v == null) v = vectorOf(row, vOrd, vFloat)
                  if (v != null) {
                    heap.offer(isNull = false, VecKernels.cosine(v, q, math.min(v.length, q.length)), id)
                    counts(0) += 1
                  }
                }
              }
              j += 1
            }
          }
        }
    }
  }

  /** The global merge of per-partition heaps: offered (qid, id, score)
    * rows in any order, `result` gives each qid's k best (qid asc, score
    * desc, id asc), scores rounded to 4 dp when `round` (selection by the
    * unrounded score, output order by the rounded one, then id). Offered
    * values are copied, so a reused input row is safe. */
  final class Merge(k: Int, round: Boolean, qidType: DataType, idType: DataType) {
    private val idOrd = ordering(idType)
    private val groups = mutable.HashMap.empty[Any, KnnHeap]
    private val qids = mutable.ArrayBuffer.empty[Any]

    def offer(r: InternalRow): Unit = {
      val q = if (r.isNullAt(0)) null else InternalRow.copyValue(r.get(0, qidType))
      val heap = groups.getOrElseUpdate(groupKey(q), { qids += q; new KnnHeap(k, idOrd) })
      heap.offer(r.isNullAt(2), if (r.isNullAt(2)) 0.0 else r.getDouble(2),
        if (r.isNullAt(1)) null else r.get(1, idType))
    }

    def result(): Array[InternalRow] = {
      val out = emitter(qidType, idType)
      val rounder = Round(BoundReference(0, DoubleType, nullable = true), Literal(4))
      qids.sorted(ordering(qidType)).iterator.flatMap { q =>
        val best = groups(groupKey(q)).sorted
        val hits = if (!round) best else best.map(h => new KnnHit(h.isNull,
            if (h.isNull) 0.0 else rounder.eval(InternalRow(h.score)).asInstanceOf[Double], h.id, h.dist))
          .sortWith((a, b) => KnnHeap.ranks(idOrd, a.isNull, a.score, a.id, b) > 0)
        hits.iterator.map(h => out(q, h.id, if (h.isNull) null else h.score))
      }.toArray
    }
  }

  /** (qid, id, score) → UnsafeRow, without runtime code generation. */
  def emitter(qidType: DataType, idType: DataType): (Any, Any, Any) => InternalRow = {
    val proj = InterpretedUnsafeProjection.createProjection(Seq(
      BoundReference(0, qidType, nullable = true), BoundReference(1, idType, nullable = true),
      BoundReference(2, DoubleType, nullable = true)))
    (q, id, s) => proj(new GenericInternalRow(Array[Any](q, id, s))).copy()
  }

  /** A restriction of the corpus side, applied below the operator: rows
    * whose `id` is in `ids` (a frame with an `id` column), and, for an
    * IVF-celled corpus, whose `cluster` is in `cells`. A `cells` set that
    * holds every query's probe set ([[KnnScorer.CellProbe.probedCells]])
    * drops only rows the scorer would skip, so results are unchanged; on
    * a `partitionBy(cluster)` parquet read it becomes partition pruning. */
  final case class Restrict(ids: Option[DataFrame] = None, cells: Option[Seq[Int]] = None) {
    def apply(corpus: DataFrame): DataFrame = {
      // an array literal, not an IN list: its values are not inlined into
      // generated code, so a new cell set costs no fresh compile
      val inCells = cells.fold(corpus)(cs => corpus.where(array_contains(typedLit(cs.toArray), col("cluster"))))
      ids.fold(inCells)(allow => inCells.join(allow.select(col("id")), Seq("id"), "left_semi"))
    }
  }
  object Restrict { val none: Restrict = Restrict() }

  /** A local (qid LONG, qv ARRAY<DOUBLE>) query block of driver-held
    * vectors (null for a null vector): the operator reads it with no job. */
  def block(spark: SparkSession, queries: Seq[(Long, Array[Double])]): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(queries.map { case (qid, v) =>
        Row(qid, if (v == null) null else v.toSeq) }: _*),
      StructType(Seq(StructField("qid", LongType, nullable = false),
        StructField("qv", ArrayType(DoubleType, containsNull = false), nullable = true))))

  /** Register the planner strategy on this session (idempotent). */
  def install(spark: SparkSession): Unit = {
    val cur = spark.experimental.extraStrategies
    if (!cur.contains(KnnStrategy))
      spark.experimental.extraStrategies = cur :+ KnnStrategy
  }

  /** Top `k` corpus rows per query: `corpus` carries `scorer.columns`
    * (id first), `queries` carries (qid, qv). Returns (qid, id, score)
    * ordered by qid asc, score desc, id asc — the trailing sort is
    * satisfied by the operator's output order and planned away. k ≤ 0,
    * an empty query block or an empty corpus give an empty frame. */
  def apply(corpus: DataFrame, queries: DataFrame, k: Int, scorer: KnnScorer): DataFrame = {
    val spark = corpus.sparkSession
    install(spark)
    val left = GraftColumnBridge.analyzedPlan(corpus.select(scorer.columns.map(col): _*))
    val right = GraftColumnBridge.analyzedPlan(queries.select(col("qid"), col("qv")))
    val score = AttributeReference("score", DoubleType, nullable = true)()
    val node = KnnTopK(k, scorer, left.output, right.output.head, right.output(1), score, left, right)
    GraftColumnBridge.ofRows(spark, node)
      .orderBy(col("qid").asc, col("score").desc, col("id").asc)
  }
}

/** Planner strategy: logical [[KnnTopK]] → per-partition exec under the
  * merge exec. Neither requires a child distribution, so the planner adds
  * no exchange: the per-partition exec broadcasts the query block itself,
  * and the merge exec brings the heaps together itself, on the driver. A
  * deterministic projection right above the search, and a global sort
  * above that, plan into the merge exec (the operator's own order under a
  * projection needs no sort). */
object KnnStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case Sort(order, true, Project(list, knn: KnnTopK), _) if list.forall(_.deterministic) =>
      merge(knn, list, order) :: Nil
    case Project(list, Sort(order, true, knn: KnnTopK, _))
        if list.forall(_.deterministic) && order.map(_.semanticHash()) == ordering(knn).map(_.semanticHash()) =>
      merge(knn, list, Nil) :: Nil
    case knn: KnnTopK => merge(knn, knn.output, Nil) :: Nil
    case _ => Nil
  }

  /** The operator's own output order. */
  private def ordering(knn: KnnTopK): Seq[SortOrder] = Seq(SortOrder(knn.qid, Ascending),
    SortOrder(knn.score, Descending), SortOrder(knn.corpusCols.head, Ascending))

  private def merge(knn: KnnTopK, list: Seq[NamedExpression], order: Seq[SortOrder]): SparkPlan =
    KnnTopKMergeExec(knn.k, knn.scorer.roundScores, knn.qid, knn.corpusCols.head, knn.score,
      list, order, KnnTopKExec(knn.k, knn.scorer, knn.corpusCols, knn.qid, knn.qv, knn.score,
        planLater(knn.left), planLater(knn.right)))
}

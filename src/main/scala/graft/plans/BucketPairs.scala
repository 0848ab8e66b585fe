package graft.plans

import graft.expr.VecKernels
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, GraftColumnBridge, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, AttributeReference, AttributeSet, BoundReference, GenericInternalRow, InterpretedUnsafeProjection, SortOrder, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.catalyst.util.SQLOrderingUtil
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.execution.metric.{SQLMetric, SQLMetrics}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, LongType}

import scala.collection.mutable.ArrayBuffer

/** How [[BucketPairs]] verifies one candidate pair of a bucket from the
  * two rows' payloads. Each case names its payload column and the type of
  * the score it emits; a pair that fails verification is not emitted. */
sealed trait PairVerifier extends Serializable {
  def payload: String
  def scoreType: DataType
  def describe: String
}

object PairVerifier {
  /** Sorted distinct gram arrays (Spark's binary string order): the pair
    * passes when jac = |A∩B| / (|A| + |B| − |A∩B|) ≥ `threshold`. The
    * length-ratio prefilter |A|/|B| ≥ t ∧ |B|/|A| ≥ t runs first, in
    * division form (a product t·|B| can round up past an exact-boundary
    * |A|). Score: the unrounded jac. */
  final case class Jaccard(threshold: Double) extends PairVerifier {
    def payload: String = "grams"
    def scoreType: DataType = DoubleType
    def describe: String = s"jaccard t=$threshold"
  }

  /** 64-bit SimHash signatures: the pair passes when their Hamming
    * distance is at most `maxHamming`. Score: the distance. */
  final case class Hamming(maxHamming: Int) extends PairVerifier {
    def payload: String = "sim64"
    def scoreType: DataType = LongType
    def describe: String = s"hamming <= $maxHamming"
  }

  /** Unit vectors: the pair passes when their dot product (the cosine),
    * summed left to right over the common prefix as `VectorFunctions.dot`
    * does, is ≥ `threshold` in Spark's double order (NaN above all). A
    * vector with a null element pairs with nothing. Score: the dot. */
  final case class Cosine(threshold: Double) extends PairVerifier {
    def payload: String = "vn"
    def scoreType: DataType = DoubleType
    def describe: String = s"cosine t=$threshold"
  }
}

/** Bucketed pair search with in-place verification: rows (keys…, id,
  * payload) are clustered by the keys (one hash exchange), and each task
  * walks its buckets: a bucket with more than `maxBucket` rows is dropped
  * whole (the skew guard — a hot bucket would be quadratic), and in every
  * other bucket each pair of rows with ids a < b is verified by
  * `verifier`. Rows with a null key or a null id never pair. Output:
  * (keys…, a, b, score), one row per verified pair per shared bucket — a
  * pair that shares several buckets comes out once from each; callers
  * that need it once take a `distinct`. The output keeps the input's
  * clustering by key, so a grouping on the keys above needs no exchange.
  *
  * This is the relational funnel key → bucket-size guard → self-join on
  * key with `l.id < r.id` → verification joins, fused into one operator:
  * the buckets are read once, and no candidate pair is materialized. */
case class BucketPairs(verifier: PairVerifier, maxBucket: Int, keys: Seq[Attribute],
                       idAttr: Attribute, payload: Attribute,
                       a: Attribute, b: Attribute, score: Attribute,
                       child: LogicalPlan) extends UnaryNode {
  override def output: Seq[Attribute] = keys ++ Seq(a, b, score)
  override def producedAttributes: AttributeSet = AttributeSet(Seq(a, b, score))
  override def stringArgs: Iterator[Any] = Iterator(verifier.describe, s"maxBucket=$maxBucket")
  override protected def withNewChildInternal(c: LogicalPlan): BucketPairs = copy(child = c)
}

case class BucketPairsExec(verifier: PairVerifier, maxBucket: Int, keys: Seq[Attribute],
                           idAttr: Attribute, payload: Attribute,
                           a: Attribute, b: Attribute, score: Attribute,
                           child: SparkPlan) extends UnaryExecNode {
  override def output: Seq[Attribute] = keys ++ Seq(a, b, score)
  override def outputPartitioning: Partitioning = child.outputPartitioning
  override def requiredChildDistribution: Seq[Distribution] = ClusteredDistribution(keys) :: Nil
  /** Sorted by key, each bucket streams through the task on its own: one
    * bucket's rows are held at once (at most `maxBucket` + 1 of them; an
    * uncapped pass, as the exact Jaccard prefix pass is, holds its largest
    * bucket whole), the sort spills, and verified pairs stream out as they
    * are found. */
  override def requiredChildOrdering: Seq[Seq[SortOrder]] = keys.map(SortOrder(_, Ascending)) :: Nil
  override def stringArgs: Iterator[Any] = Iterator(verifier.describe, s"maxBucket=$maxBucket")

  override lazy val metrics: Map[String, SQLMetric] = Map(
    "bucketsDropped" -> SQLMetrics.createMetric(sparkContext, "buckets dropped by the size guard"),
    "pairsVerified" -> SQLMetrics.createMetric(sparkContext, "pairs verified"),
    "pairsEmitted" -> SQLMetrics.createMetric(sparkContext, "pairs emitted"))

  override protected def doExecute(): RDD[InternalRow] = {
    val in = child.output
    def ordinal(x: Attribute): Int = in.indexWhere(_.exprId == x.exprId)
    val keyRefs = keys.map(k => BoundReference(ordinal(k), k.dataType, k.nullable))
    val (idOrd, idType) = (ordinal(idAttr), idAttr.dataType)
    val payOrd = ordinal(payload)
    val payFloat = payload.dataType match { case ArrayType(FloatType, _) => true; case _ => false }
    val outRefs = output.zipWithIndex.map { case (x, i) => BoundReference(i, x.dataType, nullable = true) }
    val (ver, cap, nKeys) = (verifier, maxBucket, keys.length)
    val (mDropped, mVerified, mEmitted) =
      (metrics("bucketsDropped"), metrics("pairsVerified"), metrics("pairsEmitted"))
    child.execute().mapPartitions { rows =>
      val keyOf = InterpretedUnsafeProjection.createProjection(keyRefs)
      val emit = InterpretedUnsafeProjection.createProjection(outRefs)
      val idOrdering = KnnTopK.ordering(idType)
      val bucket = ArrayBuffer.empty[InternalRow]
      var pending: InternalRow = null
      var pendingKey: UnsafeRow = null

      /** The next bucket's rows into `bucket` (capped at cap + 1); its key
        * and full size. */
      def nextBucket(): (UnsafeRow, Long) = {
        bucket.clear()
        val key = pendingKey
        bucket += pending
        var n = 1L
        pending = null; pendingKey = null
        while (pending == null && rows.hasNext) {
          val r = rows.next()
          val k = keyOf(r)
          if (k == key) { n += 1; if (n <= cap.toLong + 1) bucket += r.copy() }
          else { pending = r.copy(); pendingKey = k.copy() }
        }
        (key, n)
      }

      /** The verified pairs of the bucket in `bucket`, emitted as they
        * are found: nothing past the bucket's own rows is held. */
      def pairs(key: UnsafeRow): Iterator[InternalRow] = new Iterator[InternalRow] {
        private val members = bucket.filterNot(_.isNullAt(idOrd)).toArray
        private val ids = members.map(r => InternalRow.copyValue(r.get(idOrd, idType)))
        private val check = BucketPairs.checker(ver, members, payOrd, payFloat)
        private val row = new Array[Any](nKeys + 3)
        (0 until nKeys).foreach(k => row(k) = key.get(k, keyRefs(k).dataType))
        private var i = 0
        private var j = 1
        private var found: InternalRow = null

        /** Walks (i, j) on to the next verified pair, if any. */
        private def advance(): Unit =
          while (found == null && i < members.length) {
            if (j >= members.length) { i += 1; j = i + 1 }
            else {
              val c = idOrdering.compare(ids(i), ids(j))
              if (c != 0) {
                val (x, y) = if (c < 0) (i, j) else (j, i)
                mVerified += 1
                val s = check(x, y)
                if (s != null) {
                  row(nKeys) = ids(x); row(nKeys + 1) = ids(y); row(nKeys + 2) = s
                  found = emit(new GenericInternalRow(row))
                  mEmitted += 1
                }
              }
              j += 1
            }
          }

        override def hasNext: Boolean = { advance(); found != null }
        override def next(): InternalRow = {
          if (!hasNext) throw new NoSuchElementException
          val r = found; found = null; r
        }
      }

      new Iterator[InternalRow] {
        private var cur: Iterator[InternalRow] = Iterator.empty
        override def hasNext: Boolean = {
          if (pending == null && rows.hasNext) {
            val r = rows.next(); pending = r.copy(); pendingKey = keyOf(r).copy()
          }
          while (!cur.hasNext && pending != null) {
            val (key, n) = nextBucket()
            cur =
              if (key.anyNull()) Iterator.empty
              else if (n > cap) { mDropped += 1; Iterator.empty }
              else pairs(key)
          }
          cur.hasNext
        }
        override def next(): InternalRow = {
          if (!hasNext) throw new NoSuchElementException
          cur.next()
        }
      }
    }
  }

  override protected def withNewChildInternal(c: SparkPlan): BucketPairsExec = copy(child = c)
}

object BucketPairs {

  /** Verifies pair (x, y) of one bucket's rows: the boxed score, or null
    * when the pair fails. Payloads are decoded once per row. */
  private[plans] def checker(v: PairVerifier, rows: Array[InternalRow], ord: Int,
                             isFloat: Boolean): (Int, Int) => Any = v match {
    case PairVerifier.Jaccard(t) =>
      val sets = rows.map(r => if (r.isNullAt(ord)) null else r.getArray(ord))
      (x, y) => {
        val (ga, gb) = (sets(x), sets(y))
        if (ga == null || gb == null || ga.numElements() == 0 || gb.numElements() == 0) null
        else {
          val (sa, sb) = (ga.numElements().toDouble, gb.numElements().toDouble)
          if (sa / sb >= t && sb / sa >= t) {
            val inter = graft.expr.SortedIntersectCount.count(ga, gb).toDouble
            val jac = inter / (sa + sb - inter)
            if (jac >= t) jac else null
          } else null
        }
      }
    case PairVerifier.Hamming(maxH) =>
      val sims = rows.map(r => if (r.isNullAt(ord)) null else java.lang.Long.valueOf(r.getLong(ord)))
      (x, y) => {
        val (sa, sb) = (sims(x), sims(y))
        if (sa == null || sb == null) null
        else {
          val h = java.lang.Long.bitCount(sa.longValue ^ sb.longValue).toLong
          if (h <= maxH) h else null
        }
      }
    case PairVerifier.Cosine(t) =>
      val vecs = rows.map(r => if (r.isNullAt(ord)) null else {
        val a = r.getArray(ord); VecKernels.toDoubles(a, isFloat, a.numElements())
      })
      (x, y) => {
        val (va, vb) = (vecs(x), vecs(y))
        if (va == null || vb == null) null
        else {
          val d = VecKernels.dot(va, vb, math.min(va.length, vb.length))
          if (SQLOrderingUtil.compareDoubles(d, t) >= 0) d else null
        }
      }
  }

  /** Register the planner strategy on this session (idempotent). */
  def install(spark: SparkSession): Unit = {
    val cur = spark.experimental.extraStrategies
    if (!cur.contains(BucketPairsStrategy))
      spark.experimental.extraStrategies = cur :+ BucketPairsStrategy
  }

  /** Verified pairs of `rows`, which carry the `keys` columns, `id` and
    * `verifier.payload`: (keys…, a, b, score), a < b, once per shared
    * bucket of at most `maxBucket` rows. */
  def apply(rows: DataFrame, keys: Seq[String], verifier: PairVerifier,
            maxBucket: Int): DataFrame = {
    val spark = rows.sparkSession
    install(spark)
    val plan = GraftColumnBridge.analyzedPlan(
      rows.select((keys :+ "id" :+ verifier.payload).map(col): _*))
    val in = plan.output
    val id = in(keys.length)
    val node = BucketPairs(verifier, maxBucket, in.take(keys.length), id, in(keys.length + 1),
      AttributeReference("a", id.dataType, nullable = false)(),
      AttributeReference("b", id.dataType, nullable = false)(),
      AttributeReference("score", verifier.scoreType, nullable = false)(),
      plan)
    GraftColumnBridge.ofRows(spark, node)
  }
}

/** Planner strategy: logical [[BucketPairs]] → [[BucketPairsExec]]; the
  * planner adds the hash exchange and the sort its child requires. */
object BucketPairsStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case p: BucketPairs =>
      BucketPairsExec(p.verifier, p.maxBucket, p.keys, p.idAttr, p.payload, p.a, p.b, p.score,
        planLater(p.child)) :: Nil
    case _ => Nil
  }
}

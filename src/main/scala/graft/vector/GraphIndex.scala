package graft.vector

import graft.expr.{VecKernels, VectorExpr}
import graft.plans.{KnnHeap, KnnScorer, KnnTopK}
import org.apache.spark.sql.{Column, DataFrame, GraftColumnBridge, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, AttributeReference, GenericInternalRow, SortOrder, UnsafeArrayData}
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.catalyst.util.{ArrayData, SQLOrderingUtil}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DataType, FloatType, IntegerType, LongType}
import org.apache.spark.storage.StorageLevel

import scala.collection.mutable

/** A navigable-graph ANN index, graft's form of the reference's hnsw
  * (local_db.py:41–46): Malkov & Yashunin's best-first beam search (TPAMI
  * 2020) over a sharded k-NN graph. Each shard holds its own graph; a query
  * fans out to every shard and the shards' hits merge into one top-k.
  *
  * `frame` is (shard INT, id LONG, vector ARRAY<FLOAT>, nbrs ARRAY<INT>),
  * cached under a leaf plan that is hash-partitioned by `shard` and sorted
  * by (shard, id) within each partition, so a search plans no exchange and
  * no sort. A node's position is its rank in its shard by (id, then
  * vector). `nbrs` lists positions: the node's `k` nearest shard-mates by
  * squared L2 (ties by position), and its skip-ring targets, position +
  * 2^j. The ring keeps every shard connected with O(log s) diameter,
  * however the k-NN edges cluster; it is the flattened analog of HNSW's
  * layer hierarchy. The search walks every edge both ways.
  *
  * Sharding: a corpus of at most `shardTarget` (4,096) rows is one shard.
  * A larger corpus is sharded by IVF cell (⌈n / shardTarget⌉
  * sample-trained cells). A cell of more than `shardTarget` rows is split
  * by id hash into ⌈size / shardTarget⌉ shards, and [[append]] splits a
  * cell that outgrows its shards the same way. Each shard is wired inside
  * its own task.
  *
  * Search ([[searchBatch]]) is one [[KnnTopK]] pass. `ef ≤ 0` is the exact
  * scan over the graph's vectors ([[KnnScorer.Exact]]); the oracle gates
  * use it. A tuned `ef` runs [[KnnScorer.GraphBeam]]: each task builds the
  * adjacency of its shards once, then runs a width-ef beam per query from
  * each shard's entry node, the first position with a vector.
  */
final class GraphIndex private (val frame: DataFrame, val n: Long, val k: Int,
                                private val layout: GraphIndex.Layout) {
  import GraphIndex._

  /** The number of shards the layout routes to (some may be empty). */
  def shards: Int = layout.shards

  def dispose(): Unit = frame.unpersist(blocking = false)

  /** Top-k per query: (qid, id, score), qid asc, score desc, id asc, as
    * [[ExactKNN.topKBatch]] gives them. `ef ≤ 0` is the exact scan.
    * Otherwise every shard runs a beam of width max(ef, k) per query.
    *
    * `restrict` (an (id, …) frame) is the filtered-ANN contract hnswlib's
    * allow-list takes: the beam walks every node of a shard, and only
    * allowed ids enter the result. Cutting the other nodes out would
    * disconnect the graph. Under the exact scan they filter the corpus. */
  def searchBatch(queries: DataFrame, qidCol: String, qvecCol: String,
                  k: Int, ef: Int = 64,
                  metric: ExactKNN.Metric = ExactKNN.L2Sq,
                  restrict: Option[DataFrame] = None): DataFrame = {
    val qs = queries.select(col(qidCol).as("qid"), col(qvecCol).as("qv"))
    if (ef <= 0)
      KnnTopK(KnnTopK.Restrict(restrict)(frame), qs, k, KnnScorer.Exact(metric))
    else
      KnnTopK(KnnTopK.Restrict(restrict).mark(frame), qs, k,
        KnnScorer.GraphBeam(metric, math.max(ef, k)))
  }

  /** [[searchBatch]] for one query vector: (id, score). */
  def search(query: Array[Double], k: Int, ef: Int = 64,
             restrict: Option[DataFrame] = None): DataFrame =
    searchBatch(KnnTopK.block(frame.sparkSession, Seq((0L, query))), "qid", "qv", k, ef,
      restrict = restrict).select(col("id"), col("score"))

  /** Incremental maintenance (≙ hnsw `add_items`, local_db.py:78–80): the
    * batch routes to cells and shards by the build's rule, and only the
    * shards it lands in are re-wired, each inside its own task, at a cost
    * bounded by their size. The other shards keep their stored edges. A
    * cell that grows past `shardTarget` rows per shard at least doubles
    * its shards: its rows re-route by id hash and all of its shards are
    * re-wired, so every shard stays bounded and the re-wiring a row causes
    * is amortized constant. A re-wired shard is the shard a build over its
    * rows gives, so a one-shard index after an append within the target
    * equals a build over the union. The frame passes through one shuffle,
    * which keeps its plan a leaf and its lineage one shuffle deep; the
    * superseded frame is released. */
  def append(batch: DataFrame, idCol: String, vecCol: String): GraphIndex = {
    val b = vectorsOf(batch, idCol, vecCol).withColumn("cell", layout.cellOf(col("vector")))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val added = b.groupBy(col("cell")).count().collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val out =
      if (added.isEmpty) this
      else {
        val grown = layout.grow(added)
        val split = layout.pieces.indices.filter(c => grown.pieces(c) != layout.pieces(c))
        val kept =
          if (split.isEmpty) frame
          else {
            val cell = layout.cellOfShard(col("shard"))
            frame.select(grown.shardOf(cell, col("id")).as("shard"), col("id"), col("vector"),
              when(cell.isin(split: _*), noNbrs).otherwise(col("nbrs")).as("nbrs"))
          }
        val rows = kept.unionByName(b.select(grown.shardOf(col("cell"), col("id")).as("shard"),
          col("id"), col("vector"), noNbrs.as("nbrs")))
        val next = new GraphIndex(wire(rows, k, grown.shards), n + added.values.sum, k, grown)
        dispose()
        next
      }
    b.unpersist(blocking = false)
    out
  }
}

object GraphIndex {

  /** Rows per shard a build aims at: one shard up to this size. */
  private[graft] val shardTarget = 4096

  /** How rows route to shards. A row's cell is its nearest of `centroids`,
    * or the one cell 0 when there are none. Cell c holds `rows(c)` rows in
    * `pieces(c)` shards, base(c) until base(c) + pieces(c), a row taking
    * the one its id hashes to; a build or an append keeps each cell at
    * most `target` rows per piece. */
  private[vector] final case class Layout(target: Int, centroids: Array[(Int, Array[Double])],
                                          pieces: Array[Int], rows: Array[Long]) {
    val base: Array[Int] = pieces.scanLeft(0)(_ + _).init
    def shards: Int = pieces.sum

    def cellOf(vector: Column): Column =
      if (centroids.isEmpty) lit(0)
      else coalesce(VectorExpr.nearestCentroid(vector, centroids.map(_._2)), lit(0))

    /** The cell whose pieces include `shard`. */
    def cellOfShard(shard: Column): Column =
      element_at(typedLit(pieces.indices.flatMap(c => Seq.fill(pieces(c))(c)).toArray), shard + 1)

    def shardOf(cell: Column, id: Column): Column =
      if (shards == 1) lit(0)
      else (element_at(typedLit(base), cell + 1) +
        pmod(xxhash64(id), element_at(typedLit(pieces), cell + 1).cast(LongType))).cast(IntegerType)

    /** This layout after `added(c)` more rows land in cell c: a cell over
      * `target` rows per piece gets at least twice its pieces. */
    def grow(added: Map[Int, Long]): Layout = {
      val now = rows.indices.map(c => rows(c) + added.getOrElse(c, 0L)).toArray
      copy(pieces = pieces.indices.map(c =>
        if (now(c) <= pieces(c).toLong * target) pieces(c)
        else math.max(2 * pieces(c), piecesFor(now(c), target))).toArray, rows = now)
    }
  }

  private def piecesFor(rows: Long, target: Int): Int =
    math.max(1L, (rows + target - 1) / target).toInt

  private def noNbrs: Column = lit(null).cast(ArrayType(IntegerType, containsNull = false))

  private def vectorsOf(data: DataFrame, idCol: String, vecCol: String): DataFrame =
    data.select(col(idCol).cast(LongType).as("id"), col(vecCol).cast("array<float>").as("vector"))

  /** Builds the index over `data`: `k` nearest-neighbour edges per node
    * plus the skip-ring, in shards of at most about 4,096 rows. */
  def build(data: DataFrame, idCol: String, vecCol: String, k: Int = 8): GraphIndex =
    build(data, idCol, vecCol, k, shardTarget)

  /** [[build]] in shards of at most about `target` rows. */
  private[graft] def build(data: DataFrame, idCol: String, vecCol: String,
                           k: Int, target: Int): GraphIndex = {
    require(target > 0, s"shardTarget must be positive, got $target")
    val vectors = vectorsOf(data, idCol, vecCol)
    val n = vectors.count()
    require(n > 0, "cannot build a graph index over an empty corpus")
    val layout =
      if (n <= target) Layout(target, Array.empty, Array(1), Array(n))
      else {
        val cells = math.min(1L << 16, piecesFor(n, target).toLong).toInt
        val ivf = IVFIndex.build(vectors, "id", "vector", cells)
        ivf.dispose()
        val cellular = Layout(target, ivf.centroids, Array.fill(ivf.centroids.length)(1),
          new Array[Long](ivf.centroids.length))
        val sizes = vectors.groupBy(cellular.cellOf(col("vector"))).count().collect()
          .map(r => r.getInt(0) -> r.getLong(1)).toMap
        val rows = cellular.rows.indices.map(c => sizes.getOrElse(c, 0L)).toArray
        cellular.copy(pieces = rows.map(piecesFor(_, target)), rows = rows)
      }
    val rows = vectors.select(layout.shardOf(layout.cellOf(col("vector")), col("id")).as("shard"),
      col("id"), col("vector"), noNbrs.as("nbrs"))
    new GraphIndex(wire(rows, k, layout.shards), n, k, layout)
  }

  /** The frame over `rows` (shard, id, vector, nbrs): every shard holding
    * a row with null `nbrs` is (re-)wired, the others keep their edges.
    * Laid out by shard in min(shards, spark.sql.shuffle.partitions)
    * partitions, cached and materialized. */
  private def wire(rows: DataFrame, k: Int, shards: Int): DataFrame = {
    val spark = rows.sparkSession
    val parts = math.max(1, math.min(shards, spark.conf.get("spark.sql.shuffle.partitions").toInt))
    val laid = rows.repartition(parts, col("shard")).sortWithinPartitions(col("shard"), col("id"))
    val rdd = laid.queryExecution.toRdd.mapPartitions(it => wireShards(it, k))
    require(rdd.getNumPartitions == parts, s"graph frame laid out in ${rdd.getNumPartitions} of $parts partitions")
    val out = Seq(AttributeReference("shard", IntegerType, nullable = false)(),
      AttributeReference("id", LongType)(),
      AttributeReference("vector", ArrayType(FloatType, containsNull = false))(),
      AttributeReference("nbrs", ArrayType(IntegerType, containsNull = false), nullable = false)())
    val frame = GraftColumnBridge.laidOut(spark, out, rdd, HashPartitioning(Seq(out.head), parts),
      Seq(SortOrder(out.head, Ascending), SortOrder(out(1), Ascending)))
      .persist(StorageLevel.MEMORY_AND_DISK)
    frame.count()
    frame
  }

  /** Position order of a shard's nodes: by id, then vector (lexicographic,
    * null first), over `vec`, which is read on id ties only. A shard that
    * arrives in position order, as the frame stores it, is not re-sorted. */
  private def positions(ids: Array[Long], vec: Int => Array[Double]): Array[Int] = {
    def vecCmp(a: Array[Double], b: Array[Double]): Int =
      if (a == null || b == null) java.lang.Boolean.compare(b == null, a == null)
      else {
        var i = 0
        var c = 0
        while (c == 0 && i < math.min(a.length, b.length)) { c = java.lang.Double.compare(a(i), b(i)); i += 1 }
        if (c != 0) c else Integer.compare(a.length, b.length)
      }
    def cmp(x: Int, y: Int): Int = {
      val c = java.lang.Long.compare(ids(x), ids(y))
      if (c != 0) c else vecCmp(vec(x), vec(y))
    }
    val order = ids.indices.toArray
    if ((1 until ids.length).forall(i => cmp(i - 1, i) <= 0)) order
    else order.sortWith(cmp(_, _) < 0)
  }

  /** `nbrs` of every position of a shard in position order: its `k`
    * nearest non-null neighbours by squared L2 (ties by position) and its
    * forward skip-ring targets, sorted and distinct. */
  private def edges(vecs: Array[Array[Double]], k: Int): Array[Array[Int]] = {
    val s = vecs.length
    val near = Array.fill(s)(new BeamHeap(worstOnTop = true))
    var u = 0
    while (u < s) {
      if (vecs(u) != null) {
        var v = u + 1
        while (v < s) {
          if (vecs(v) != null) {
            // a nearer neighbour scores higher: rank by −d
            val d = -VecKernels.squaredL2(vecs(u), vecs(v), math.min(vecs(u).length, vecs(v).length))
            near(u).offer(d, v, k)
            near(v).offer(d, u, k)
          }
          v += 1
        }
      }
      u += 1
    }
    Array.tabulate(s) { p =>
      val ring = Iterator.iterate(1)(_ * 2).takeWhile(j => j > 0 && p + j < s).map(p + _)
      (near(p).positions ++ ring).toArray.distinct.sorted
    }
  }

  private final class Node(val id: Long, val vector: Array[Float], val nbrs: Array[Int])

  /** Wires the shards of one partition, sorted by shard: a shard holding a
    * row with null `nbrs` gets fresh edges ([[edges]]), the others pass
    * through. Emits (shard, id, vector, nbrs) in (shard, position) order. */
  private def wireShards(rows: Iterator[InternalRow], k: Int): Iterator[InternalRow] = {
    val in = rows.buffered
    new Iterator[Iterator[InternalRow]] {
      def hasNext: Boolean = in.hasNext
      def next(): Iterator[InternalRow] = {
        val shard = in.head.getInt(0)
        val nodes = mutable.ArrayBuffer.empty[Node]
        while (in.hasNext && in.head.getInt(0) == shard) {
          val r = in.next()
          nodes += new Node(r.getLong(1),
            if (r.isNullAt(2)) null else r.getArray(2).toFloatArray(),
            if (r.isNullAt(3)) null else r.getArray(3).toIntArray())
        }
        val vecs = nodes.map(x => if (x.vector == null) null else x.vector.map(_.toDouble)).toArray
        val order = positions(nodes.map(_.id).toArray, vecs(_))
        val nbrs =
          if (nodes.forall(_.nbrs != null)) order.map(nodes(_).nbrs)
          else edges(order.map(vecs), k)
        order.indices.iterator.map { p =>
          val x = nodes(order(p))
          new GenericInternalRow(Array[Any](shard, x.id,
            if (x.vector == null) null else UnsafeArrayData.fromPrimitiveArray(x.vector),
            UnsafeArrayData.fromPrimitiveArray(nbrs(p))))
        }
      }
    }.flatten
  }

  /** A bounded heap of (score, position) under (score desc, position asc):
    * the worst retained entry on top when `worstOnTop`, else the best. */
  private final class BeamHeap(worstOnTop: Boolean) {
    private var scores = new Array[Double](8)
    private var pos = new Array[Int](8)
    var size = 0

    def clear(): Unit = size = 0
    def topScore: Double = scores(0)
    def topPos: Int = pos(0)

    private def above(i: Int, j: Int): Boolean =
      if (worstOnTop) before(scores(j), pos(j), scores(i), pos(i))
      else before(scores(i), pos(i), scores(j), pos(j))

    private def swap(i: Int, j: Int): Unit = {
      val s = scores(i); scores(i) = scores(j); scores(j) = s
      val p = pos(i); pos(i) = pos(j); pos(j) = p
    }

    def push(s: Double, p: Int): Unit = {
      if (size == scores.length) {
        scores = java.util.Arrays.copyOf(scores, size * 2); pos = java.util.Arrays.copyOf(pos, size * 2)
      }
      scores(size) = s; pos(size) = p
      var i = size
      size += 1
      while (i > 0 && above(i, (i - 1) / 2)) { swap(i, (i - 1) / 2); i = (i - 1) / 2 }
    }

    def pop(): Unit = {
      size -= 1
      scores(0) = scores(size); pos(0) = pos(size)
      var i = 0
      var done = false
      while (!done) {
        val l = 2 * i + 1; val r = l + 1
        var w = i
        if (l < size && above(l, w)) w = l
        if (r < size && above(r, w)) w = r
        if (w == i) done = true else { swap(i, w); i = w }
      }
    }

    /** Keeps (s, p) among the `cap` best (worst-on-top heaps only). */
    def offer(s: Double, p: Int, cap: Int): Unit =
      if (size < cap) push(s, p)
      else if (cap > 0 && before(s, p, scores(0), pos(0))) { pop(); push(s, p) }

    def positions: Iterator[Int] = pos.iterator.take(size)
    def entries: Iterator[(Double, Int)] = scores.iterator.zip(pos.iterator).take(size)
  }

  /** (s1, p1) ranks before (s2, p2): score desc in Spark's double order,
    * then position asc. */
  private def before(s1: Double, p1: Int, s2: Double, p2: Int): Boolean = {
    val c = SQLOrderingUtil.compareDoubles(s1, s2)
    c > 0 || (c == 0 && p1 < p2)
  }

  /** The [[KnnScorer.GraphBeam]] pass over one partition of the frame,
    * ordered by shard: per shard, the symmetric adjacency once, then for
    * each query a best-first beam of width `ef` from the entry node (the
    * first position with a vector) that stops when its best unexpanded
    * candidate ranks after the beam's worst. A node's vector is decoded
    * when a beam first reaches it. Every node is walked; only allowed
    * nodes enter the beam, and the beam's nodes are offered to the query's
    * heap. A null query vector offers every allowed node with a null
    * score, as the exact scan does. `counts` as [[KnnTopK.rowScanner]]:
    * (pairs scored, -, pairs never scored). */
  private[graft] def searchShards(rows: Iterator[InternalRow], beam: KnnScorer.GraphBeam,
                                  qs: KnnTopK.QueryBlock, heaps: Array[KnnHeap],
                                  ords: Seq[Int], types: Seq[DataType], counts: Array[Long]): Unit = {
    val Seq(idOrd, vOrd, shardOrd, nbrsOrd, allowedOrd) = ords
    val vFloat = KnnTopK.isFloatArray(types(1))
    val in = rows.buffered
    val cand = new BeamHeap(worstOnTop = false)
    val best = new BeamHeap(worstOnTop = true)
    while (in.hasNext) {
      val shard = in.head.getInt(shardOrd)
      val ids = mutable.ArrayBuilder.make[Long]
      val raws = mutable.ArrayBuffer.empty[ArrayData]
      val fwds = mutable.ArrayBuffer.empty[Array[Int]]
      val oks = mutable.ArrayBuilder.make[Boolean]
      while (in.hasNext && in.head.getInt(shardOrd) == shard) {
        val r = in.next()
        ids += r.getLong(idOrd)
        raws += (if (r.isNullAt(vOrd)) null else r.getArray(vOrd).copy())
        fwds += r.getArray(nbrsOrd).toIntArray()
        oks += r.getBoolean(allowedOrd)
      }
      val arrived = ids.result()
      // ties compare the vectors as the build ranked them (wireShards)
      val order = positions(arrived, i => if (raws(i) == null) null
        else if (vFloat) raws(i).toFloatArray().map(_.toDouble) else raws(i).toDoubleArray())
      val s = order.length
      val (id, raw, allowed) = (order.map(arrived), order.map(raws), order.map(oks.result()))
      val (start, to) = adjacency(shard, order.map(fwds), id)
      val vecs = new Array[Array[Double]](s)
      val decoded = new Array[Boolean](s)
      def vec(p: Int): Array[Double] = {
        if (!decoded(p)) {
          decoded(p) = true
          if (raw(p) != null) vecs(p) = VecKernels.toDoubles(raw(p), vFloat, raw(p).numElements())
        }
        vecs(p)
      }
      val seen = new Array[Int](s)
      var entry = 0
      while (entry < s && vec(entry) == null) entry += 1
      var scored = 0L
      var j = 0
      while (j < qs.size) {
        val q = qs.vecs(j)
        val heap = heaps(qs.group(j))
        val mark = j + 1
        if (q == null) {
          var p = 0
          while (p < s) { if (allowed(p)) heap.offer(isNull = true, 0.0, id(p)); p += 1 }
          scored += s
        } else if (entry < s) {
          cand.clear(); best.clear()
          def visit(p: Int): Unit = {
            seen(p) = mark
            val v = vec(p)
            if (v != null) {
              val sc = beam.metric.scoreOf(v, q)
              scored += 1
              if (best.size < beam.ef || before(sc, p, best.topScore, best.topPos)) {
                cand.push(sc, p)
                if (allowed(p)) { best.push(sc, p); if (best.size > beam.ef) best.pop() }
              }
            }
          }
          visit(entry)
          var done = false
          while (!done && cand.size > 0) {
            val (cs, c) = (cand.topScore, cand.topPos)
            cand.pop()
            if (best.size >= beam.ef && before(best.topScore, best.topPos, cs, c)) done = true
            else {
              var e = start(c)
              while (e < start(c + 1)) { if (seen(to(e)) != mark) visit(to(e)); e += 1 }
            }
          }
          best.entries.foreach { case (sc, p) => heap.offer(isNull = false, sc, id(p)) }
        }
        j += 1
      }
      counts(0) += scored
      counts(2) += s.toLong * qs.size - scored
    }
  }

  /** The symmetric adjacency of one shard from its forward lists (in
    * position order), as offsets: position p's neighbours are
    * to(start(p) until start(p + 1)), sorted and distinct, no self-loops.
    * A position outside the shard fails with a named error. */
  private def adjacency(shard: Int, fwd: Array[Array[Int]], ids: Array[Long]): (Array[Int], Array[Int]) = {
    val s = fwd.length
    // deg(p + 1): the list lengths with repeats, then their running sums
    val deg = new Array[Int](s + 1)
    var p = 0
    while (p < s) {
      val f = fwd(p)
      var i = 0
      while (i < f.length) {
        val q = f(i)
        if (q < 0 || q >= s)
          throw new IllegalStateException(
            s"graph shard $shard node ${ids(p)} lists neighbour position $q outside its $s nodes")
        if (q != p) { deg(p + 1) += 1; deg(q + 1) += 1 }
        i += 1
      }
      p += 1
    }
    p = 0
    while (p < s) { deg(p + 1) += deg(p); p += 1 }
    val fill = java.util.Arrays.copyOf(deg, s)
    val to = new Array[Int](deg(s))
    p = 0
    while (p < s) {
      val f = fwd(p)
      var i = 0
      while (i < f.length) {
        val q = f(i)
        if (q != p) { to(fill(p)) = q; fill(p) += 1; to(fill(q)) = p; fill(q) += 1 }
        i += 1
      }
      p += 1
    }
    // sort each list and drop its repeats in place
    val start = new Array[Int](s + 1)
    var w = 0
    p = 0
    while (p < s) {
      java.util.Arrays.sort(to, deg(p), deg(p + 1))
      start(p) = w
      var e = deg(p)
      while (e < deg(p + 1)) { if (w == start(p) || to(w - 1) != to(e)) { to(w) = to(e); w += 1 }; e += 1 }
      p += 1
    }
    start(s) = w
    (start, to)
  }

  /** The graph artifacts [[save]] writes under a graph directory. */
  val artifacts: Seq[String] = Seq("nodes", "layout")

  def save(index: GraphIndex, path: String): Unit = {
    val spark = index.frame.sparkSession
    import spark.implicits._
    index.frame.write.mode("overwrite").parquet(s"$path/nodes")
    val l = index.layout
    Seq((index.n, index.k, l.target, l.centroids.map(_._1), l.centroids.map(_._2), l.pieces, l.rows))
      .toDF("n", "k", "target", "cells", "centroids", "pieces", "rows")
      .write.mode("overwrite").parquet(s"$path/layout")
  }

  /** Restores what [[save]] wrote: the nodes keep their edges. */
  def load(spark: SparkSession, path: String): GraphIndex = {
    val r = spark.read.parquet(s"$path/layout")
      .select("n", "k", "target", "cells", "centroids", "pieces", "rows").head()
    val layout = Layout(r.getInt(2),
      r.getSeq[Int](3).zip(r.getSeq[scala.collection.Seq[Double]](4).map(_.toArray)).toArray,
      r.getSeq[Int](5).toArray, r.getSeq[Long](6).toArray)
    val nodes = spark.read.parquet(s"$path/nodes")
      .select(col("shard"), col("id"), col("vector"), col("nbrs"))
    new GraphIndex(wire(nodes, r.getInt(1), layout.shards), r.getLong(0), r.getInt(1), layout)
  }
}

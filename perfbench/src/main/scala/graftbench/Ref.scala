package graftbench

import scala.collection.mutable

/** The benchmark's own references. None of them calls into graft: they
  * restate the engine's documented contracts in plain Scala so every
  * answer can be checked independently.
  *
  *  - vector scores: squared L2 over float components widened to double,
  *    folded in index order; score = 1 / (1 + d); ties by id ascending.
  *  - BM25Okapi with k1 = 1.5, b = 0.75, epsilon = 0.25 over whitespace
  *    tokens (rank_bm25's epsilon floor: negative raw idf is replaced by
  *    epsilon × the mean raw idf over the vocabulary).
  *  - word 3-gram Jaccard over distinct shingle sets.
  *
  * Scores are compared at the oracle's 4-decimal precision. */
object Ref {

  type Hit = (Long, Double) // (id, score)

  val Tol = 1.5e-4 // two round(x, 4) values of one true score differ by ≤ 1e-4

  def sqL2(a: Array[Float], b: Array[Float]): Double = {
    var d = 0.0; var i = 0
    while (i < a.length) { val x = a(i).toDouble - b(i).toDouble; d += x * x; i += 1 }
    d
  }

  def score(d: Double): Double = 1.0 / (1.0 + d)

  /** Exact top-k by squared L2 over rows `ids` (all rows when None). */
  def knn(vecs: Array[Array[Float]], q: Array[Float], k: Int,
          ids: Option[Array[Int]] = None): Array[Hit] = {
    val cand = ids.getOrElse(vecs.indices.toArray)
    val heap = mutable.PriorityQueue.empty[(Double, Int)] // max-heap on (d, id)
    var j = 0
    while (j < cand.length) {
      val i = cand(j)
      val d = sqL2(vecs(i), q)
      if (heap.size < k) heap.enqueue((d, i))
      else if (d < heap.head._1 || (d == heap.head._1 && i < heap.head._2)) {
        heap.dequeue(); heap.enqueue((d, i))
      }
      j += 1
    }
    heap.toArray.sortBy { case (d, i) => (d, i) }.map { case (d, i) => (i.toLong, score(d)) }
  }

  /** Same rank and same score at every position, up to 4-dp rounding, and
    * every returned id really has the score reported for it. Tolerates the
    * permutations a tie (equal to 4 dp) allows. */
  def sameTopK(got: Array[Hit], want: Array[Hit], trueScore: Long => Option[Double]): Boolean =
    got.length == want.length &&
      got.map(_._1).distinct.length == got.length &&
      got.zip(want).forall { case ((_, gs), (_, ws)) => math.abs(gs - ws) <= Tol } &&
      got.forall { case (id, gs) => trueScore(id).exists(t => math.abs(t - gs) <= Tol) }

  /** |got ∩ exact| / |exact| over ids. */
  def recall(got: collection.Seq[Long], exact: collection.Seq[Long]): Double =
    if (exact.isEmpty) 1.0 else got.toSet.intersect(exact.toSet).size.toDouble / exact.length

  /** Result is a valid ranked list: distinct known ids, at most k, scores
    * non-increasing. Used where the scores themselves are approximate. */
  def wellFormed(got: collection.Seq[Hit], k: Int, n: Long): Boolean =
    got.length <= k && got.map(_._1).distinct.length == got.length &&
      got.forall { case (id, s) => id >= 0 && id < n && !s.isNaN } &&
      got.sliding(2).forall { w => w.length < 2 || w(0)._2 >= w(1)._2 - 1e-12 }

  def tokens(s: String): Array[String] = s.split("\\s+").filter(_.nonEmpty)

  /** Plain BM25Okapi over a growing corpus (docs are appended in id order). */
  final class BM25 {
    private val k1 = 1.5; private val b = 0.75; private val eps = 0.25
    private val tfs = mutable.ArrayBuffer.empty[Map[String, Int]]
    private val dls = mutable.ArrayBuffer.empty[Int]
    private val postings = mutable.HashMap.empty[String, mutable.ArrayBuffer[Int]]
    private var totalDl = 0L
    private var avgIdfCache: Option[Double] = None

    def add(doc: String): Unit = {
      val t = tokens(doc)
      val tf = t.groupBy(identity).view.mapValues(_.length).toMap
      val id = tfs.length
      tfs += tf; dls += t.length; totalDl += t.length
      tf.keys.foreach(w => postings.getOrElseUpdate(w, mutable.ArrayBuffer.empty) += id)
      avgIdfCache = None
    }

    def n: Int = tfs.length
    private def rawIdf(df: Int): Double = math.log((n - df + 0.5) / (df + 0.5))
    private def avgIdf: Double = avgIdfCache.getOrElse {
      val a = if (postings.isEmpty) 0.0 else postings.values.map(p => rawIdf(p.length)).sum / postings.size
      avgIdfCache = Some(a); a
    }
    private def idf(df: Int): Double = { val r = rawIdf(df); if (r < 0) eps * avgIdf else r }

    /** Sparse scores: docs sharing at least one query token. */
    def scores(query: String): Map[Long, Double] = {
      val avgdl = totalDl.toDouble / n
      val acc = mutable.HashMap.empty[Long, Double]
      for ((w, qc) <- tokens(query).groupBy(identity).view.mapValues(_.length); p <- postings.get(w)) {
        val wt = qc * idf(p.length)
        p.foreach { id =>
          val f = tfs(id)(w).toDouble
          val s = wt * f * (k1 + 1.0) / (f + k1 * (1.0 - b + b * dls(id) / avgdl))
          acc(id.toLong) = acc.getOrElse(id.toLong, 0.0) + s
        }
      }
      acc.toMap
    }

    /** Dense top-k (every doc scores, unmatched docs at 0), (score desc, id asc). */
    def topKDense(query: String, k: Int): Array[Hit] = {
      val s = scores(query)
      val all = (0 until n).iterator.map(i => (i.toLong, s.getOrElse(i.toLong, 0.0)))
      all.toArray.sortBy { case (id, sc) => (-sc, id) }.take(k)
    }

    /** Sparse top-k: only docs sharing a query token. */
    def topKSparse(query: String, k: Int): Array[Hit] =
      scores(query).toArray.sortBy { case (id, sc) => (-sc, id) }.take(k)
  }

  /** The facade's hybrid fusion over a flat collection above its exact
    * threshold: dense BM25 text scores, vector scores for the exact
    * widened top-max(10k, 100) (0 elsewhere), per-query max normalisation,
    * weighted sum. Returns the fused score of every id either side scored. */
  def hybridScores(bm: BM25, vecs: Array[Array[Float]], text: String, q: Array[Float],
                   k: Int, w: Double = 0.5): Map[Long, Double] = {
    val ts = bm.scores(text)
    val vs = knn(vecs, q, math.min(vecs.length, math.max(10 * k, 100))).toMap
    val ids = ts.keySet ++ vs.keySet
    val tm = if (ids.isEmpty) 0.0 else math.max(0.0, ids.map(i => ts.getOrElse(i, 0.0)).max)
    val vm = if (vs.isEmpty) 0.0 else math.max(0.0, vs.values.max)
    ids.iterator.map { id =>
      val v = vs.getOrElse(id, 0.0); val t = ts.getOrElse(id, 0.0)
      id -> (w * (if (vm > 0) v / vm else v) + (1 - w) * (if (tm > 0) t / tm else t))
    }.toMap
  }

  /** Hybrid top-k: zero scores dropped, (score desc, id asc). */
  def hybrid(scores: Map[Long, Double], k: Int): Array[Hit] =
    scores.toArray.filter(_._2 > 0).sortBy { case (id, s) => (-s, id) }.take(k)

  def shingles(doc: String, n: Int = 3): Set[String] = {
    val t = tokens(doc)
    if (t.length < n) Set.empty else t.sliding(n).map(_.mkString(" ")).toSet
  }

  def jaccard(a: Set[String], b: Set[String]): Double =
    if (a.isEmpty && b.isEmpty) 0.0
    else { val i = a.intersect(b).size.toDouble; i / (a.size + b.size - i) }

  /** Every pair (x < y) of `ids` × `against` (plus pairs within `ids`) whose
    * shingle-set Jaccard reaches `t`, found through a gram inverted index. */
  def jaccardPairs(sets: Int => Set[String], ids: Seq[Int], against: Seq[Int],
                   t: Double): Map[(Long, Long), Double] = {
    val inv = mutable.HashMap.empty[String, mutable.ArrayBuffer[Int]]
    (against ++ ids).distinct.foreach(i => sets(i).foreach(g =>
      inv.getOrElseUpdate(g, mutable.ArrayBuffer.empty) += i))
    val out = mutable.HashMap.empty[(Long, Long), Double]
    ids.foreach { i =>
      val si = sets(i)
      si.iterator.flatMap(g => inv(g)).toSet.foreach { (j: Int) =>
        if (j != i) {
          val key = (math.min(i, j).toLong, math.max(i, j).toLong)
          if (!out.contains(key)) {
            val jac = jaccard(si, sets(j))
            if (jac >= t) out(key) = jac
          }
        }
      }
    }
    out.toMap
  }

  /** Union-find components over pairs: node → smallest id of its component. */
  def components(pairs: Iterable[(Long, Long)]): Map[Long, Long] = {
    val parent = mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent(r)
      r
    }
    pairs.foreach { case (a, b) =>
      val ra = find(a); val rb = find(b)
      parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
      if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
    }
    parent.keys.map(x => x -> find(x)).toMap
  }
}

package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col

/** Driver-side brute-force k-NN: the reference for every batch search
  * path, written as plain Scala loops over collected rows so that no
  * Spark plan is its own oracle. Scores fold in double left to right; the
  * rank order is score desc (NaN above every number, null last) then
  * id asc; ties on the unrounded score break by id. */
object BruteForceKnn {
  type Vec = Array[Double] // null = null vector

  sealed trait Metric { def score(x: Vec, q: Vec): java.lang.Double }

  private def sq(x: Vec, q: Vec): Double = {
    var s = 0.0
    for (i <- 0 until math.min(x.length, q.length)) s += (x(i) - q(i)) * (x(i) - q(i))
    s
  }

  case object L2Sq extends Metric {
    def score(x: Vec, q: Vec): java.lang.Double =
      if (x == null || q == null) null else 1.0 / (1.0 + sq(x, q))
  }
  case object L2 extends Metric {
    def score(x: Vec, q: Vec): java.lang.Double =
      if (x == null || q == null) null else 1.0 / (1.0 + math.sqrt(sq(x, q)))
  }
  case object Cosine extends Metric {
    def score(x: Vec, q: Vec): java.lang.Double =
      if (x == null || q == null) null
      else {
        var d = 0.0; var nx = 0.0; var nq = 0.0
        for (i <- 0 until math.min(x.length, q.length)) {
          d += x(i) * q(i); nx += x(i) * x(i); nq += q(i) * q(i)
        }
        d / (math.sqrt(nx) * math.sqrt(nq))
      }
  }

  /** Plain or residual PQ by asymmetric distance. A row's vector slot
    * carries (cell, code_0, …, code_{m−1}); per subspace s the query minus
    * the cell's centroid (a zero centroid when `centroids` has no entry)
    * is compared with codebook entry code_s, and the m sub-distances add
    * up in ascending s. Score 1/(1+d). */
  final case class Adc(codebooks: Array[Array[Array[Double]]], centroids: Map[Int, Vec]) extends Metric {
    def score(x: Vec, q: Vec): java.lang.Double =
      if (x == null || q == null) null
      else {
        val sub = codebooks.head.head.length
        val cen = centroids.getOrElse(x(0).toInt, new Array[Double](q.length))
        var d = 0.0
        for (s <- codebooks.indices) {
          val b = codebooks(s)(x(s + 1).toInt)
          var e = 0.0
          for (i <- 0 until sub) { val y = (q(s * sub + i) - cen(s * sub + i)) - b(i); e += y * y }
          d += e
        }
        1.0 / (1.0 + d)
      }
  }

  /** (id, vector) pairs of a frame with a float or double array column. */
  def rows(df: DataFrame, idCol: String, vecCol: String): Seq[(Long, Vec)] =
    df.select(col(idCol).cast("long"), col(vecCol).cast("array<double>")).collect().toSeq
      .map(r => (r.getLong(0), if (r.isNullAt(1)) null else r.getSeq[Double](1).toArray))

  /** The [[Adc]] rows of a PQ codes frame: (id, cell +: codes), cell 0
    * when the frame has no `cluster` column (plain PQ). */
  def adcRows(codes: DataFrame): Seq[(Long, Vec)] = {
    val cell = if (codes.columns.contains("cluster")) col("cluster") else org.apache.spark.sql.functions.lit(0)
    codes.select(col("id").cast("long"), cell.cast("int"), col("codes")).collect().toSeq
      .map(r => (r.getLong(0), (r.getInt(1) +: r.getSeq[Int](2)).map(_.toDouble).toArray))
  }

  /** > 0 when score `a` ranks before `b`. */
  def compareScores(a: java.lang.Double, b: java.lang.Double): Int =
    if (a == null) { if (b == null) 0 else -1 }
    else if (b == null) 1
    else if (a.isNaN || b.isNaN) java.lang.Boolean.compare(a.isNaN, b.isNaN)
    else java.lang.Double.compare(a + 0.0, b + 0.0)

  /** 4-dp HALF_UP rounding of the decimal form, as SQL `round(x, 4)`. */
  def round4(s: java.lang.Double): java.lang.Double =
    if (s == null || s.isNaN || s.isInfinite) s
    else java.math.BigDecimal.valueOf(s).setScale(4, java.math.RoundingMode.HALF_UP).doubleValue

  /** Top `k` rows per qid as (qid, id, score), ordered qid asc, score desc,
    * id asc. `eligible(qid, query, rowId)` restricts the pairs scored (an
    * IVF probe, a self-exclusion); `round` rounds output scores to 4 dp
    * after selecting by the unrounded score, then orders by the rounded
    * score and id. */
  def topK(corpus: Seq[(Long, Vec)], queries: Seq[(Long, Vec)], k: Int, metric: Metric,
           round: Boolean = false,
           eligible: (Long, Vec, Long) => Boolean = (_, _, _) => true): Seq[(Long, Long, java.lang.Double)] = {
    def ranks(a: (Long, java.lang.Double), b: (Long, java.lang.Double)): Boolean = {
      val c = compareScores(a._2, b._2)
      c > 0 || (c == 0 && a._1 < b._1)
    }
    queries.groupBy(_._1).toSeq.sortBy(_._1).flatMap { case (qid, qs) =>
      val hits = for ((_, q) <- qs; (id, x) <- corpus if eligible(qid, q, id))
        yield (id, metric.score(x, q))
      val top = hits.sortWith(ranks).take(math.max(k, 0))
      val out = if (round) top.map { case (id, s) => (id, round4(s)) }.sortWith(ranks) else top
      out.map { case (id, s) => (qid, id, s) }
    }
  }

  /** A result frame's rows as (qid, id, score) in frame order. */
  def collect(df: DataFrame): Seq[(Long, Long, java.lang.Double)] =
    df.select(col("qid").cast("long"), col("id").cast("long"), col("score")).collect().toSeq
      .map((r: Row) => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) null else java.lang.Double.valueOf(r.getDouble(2))))

  /** Bit equality of two result lists (NaN equals NaN). */
  def same(a: Seq[(Long, Long, java.lang.Double)], b: Seq[(Long, Long, java.lang.Double)]): Boolean =
    a.length == b.length && a.zip(b).forall { case ((q1, i1, s1), (q2, i2, s2)) =>
      q1 == q2 && i1 == i2 && (if (s1 == null) s2 == null
        else s2 != null && java.lang.Double.doubleToLongBits(s1) == java.lang.Double.doubleToLongBits(s2))
    }
}

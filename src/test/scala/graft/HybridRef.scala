package graft

/** The facade's hybrid fusion computed densely on the driver: rank_bm25's
  * BM25Okapi text scores, the vector scores (every doc at true L2 on the
  * exact arm; the exact top-W at squared L2 on the probe arm, W =
  * max(10·topK, 100); none for a null query vector), per-query max
  * normalisation, the masks after fusion, zero-drop, (score desc, id asc). */
object HybridRef {
  def tokens(s: String): Seq[String] = s.trim.split("\\s+").filter(_.nonEmpty).toSeq

  /** rank_bm25.BM25Okapi, sparse: docs sharing a query token. */
  def bm25(docs: IndexedSeq[String], query: String): Map[Int, Double] = {
    val toks = docs.map(tokens)
    val n = toks.size.toDouble
    val avgdl = toks.map(_.size).sum / n
    val df = toks.flatMap(_.distinct).groupBy(identity).view.mapValues(_.size.toDouble).toMap
    val raw = df.view.mapValues(d => math.log((n - d + 0.5) / (d + 0.5))).toMap
    val avgIdf = raw.values.sum / raw.size
    val idf = raw.view.mapValues(v => if (v < 0) 0.25 * avgIdf else v).toMap
    val qts = tokens(query).filter(idf.contains)
    toks.indices.flatMap { i =>
      val d = toks(i)
      if (!qts.exists(d.contains)) None
      else Some(i -> qts.map { t =>
        val tf = d.count(_ == t).toDouble
        if (tf == 0) 0.0 else idf(t) * tf * 2.5 / (tf + 1.5 * (0.25 + 0.75 * d.size / avgdl))
      }.sum)
    }.toMap
  }

  private def sqL2(a: Array[Float], b: Array[Float]): Double =
    a.indices.map { i => val d = a(i).toDouble - b(i).toDouble; d * d }.sum

  /** One query's expected (id, score) rows; `pass` = the doc survives the masks. */
  def expected(docs: IndexedSeq[String], vecs: IndexedSeq[Array[Float]], text: String,
               q: Array[Float], topK: Int, w: Double, probe: Boolean,
               pass: Int => Boolean): Seq[(Long, Double)] = {
    val ts = bm25(docs, text)
    val vs: Map[Int, Double] =
      if (q == null) Map.empty
      else if (!probe) docs.indices.map(i => i -> 1.0 / (1.0 + math.sqrt(sqL2(vecs(i), q)))).toMap
      else docs.indices.map(i => i -> 1.0 / (1.0 + sqL2(vecs(i), q)))
        .sortBy { case (i, s) => (-s, i) }.take(math.min(docs.size, math.max(10 * topK, 100))).toMap
    val tm = (ts.values ++ Seq(0.0)).max
    val vm = (vs.values ++ Seq(0.0)).max
    docs.indices.map { i =>
      val (v, t) = (vs.getOrElse(i, 0.0), ts.getOrElse(i, 0.0))
      i.toLong -> (w * (if (vm > 0) v / vm else v) + (1 - w) * (if (tm > 0) t / tm else t))
    }.filter { case (i, s) => pass(i.toInt) && s > 0 }
      .sortBy { case (i, s) => (-s, i) }.take(topK)
  }
}

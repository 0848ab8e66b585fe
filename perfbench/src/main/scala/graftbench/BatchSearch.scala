package graftbench

import graft.VectorDatabase
import graft.text.BM25
import graft.vector.{ExactKNN, IVFIndex, ResidualPQ, SQIndex}
import org.apache.spark.sql.{DataFrame, SparkSession}

import scala.collection.mutable

/** Bulk KNN, BM25 and hybrid batches over one corpus: each op is one batch
  * of held-out queries through one batch API; every API runs a small and
  * a large |Q| in each cycle. */
final class BatchSearch(spark: SparkSession, gen: Gen) extends Part {
  import BatchSearch._

  private val cs = gen.mixtureModel(32, dim, 1)
  val vecs: Array[Array[Float]] = gen.mixture(rows, cs, 0.45, 2)
  val docs: Array[String] = gen.docs(rows, 5000, 8, 24, 3)
  val qVecs: Array[Array[Float]] = gen.mixture(pool, cs, 0.45, 5)
  val qTexts: Array[String] = gen.queryTexts(pool, 5000, 6)
  val corpus: DataFrame = Common.corpusFrame(spark, docs, vecs, gen.metas(rows, 4))
  private val b = mutable.LinkedHashMap.empty[String, Double]
  private def timed[T](key: String)(f: => T): T = { val (r, s) = Common.timeS(f); b(key) = s; r }
  val sq: SQIndex = timed("vector.sq8_build_s") {
    val i = SQIndex.build(corpus, "id", "vector"); i.data.count(); i }
  val ivf: IVFIndex = timed("vector.ivf_build_s") {
    val i = IVFIndex.build(corpus, "id", "vector", nlist); i.assignments.count(); i }
  val rpq: ResidualPQ = timed("vector.rpq_build_s") {
    val i = ResidualPQ.build(ivf, dim, pqM); i.codes.count(); i }
  val bm25: BM25.Index = timed("text.bm25_build_s")(BM25.build(corpus, "id", "doc"))
  val db: VectorDatabase = VectorDatabase.create(spark, dim, "flat")
  db.addBulkWithIds(corpus, "doc", "vector", Some("meta"), "id")
  // the facade builds its own BM25 index on first use: pay for it here
  db.hybridSearchBatch(Common.queryFrame(spark, Seq(0L), qTexts, qVecs), "qid", "text", "qv", k)
    .collect()
  val builds: Map[String, Double] = b.toMap

  private lazy val refBm = { val r = new Ref.BM25; docs.foreach(r.add); r }
  private val exact = mutable.HashMap.empty[Long, Array[Ref.Hit]]
  private def exactOf(q: Long) = exact.getOrElseUpdate(q, Ref.knn(vecs, qVecs(q.toInt), k))
  private def trueScore(q: Long)(id: Long): Option[Double] =
    if (id < 0 || id >= rows) None else Some(Ref.score(Ref.sqL2(vecs(id.toInt), qVecs(q.toInt))))
  private var next = 0
  private def take(n: Int): Seq[Long] = {
    val r = (0 until n).map(i => ((next + i) % pool).toLong); next += n; r
  }
  private def qf(ids: Seq[Long]) = Common.queryFrame(spark, ids, qTexts, qVecs)
  private def collectHits(df: DataFrame) =
    Common.hits(df.select("qid", "id", "score").collect(), 0, 1, 2)

  private def exactCheck(ids: Seq[Long])(got: Map[Long, Array[Ref.Hit]]): Boolean =
    ids.forall(q => Ref.sameTopK(got.getOrElse(q, Array.empty[Ref.Hit]), exactOf(q), trueScore(q)))
  private def approxCheck(h: Harness, scoresExact: Boolean)(ids: Seq[Long])(
      got: Map[Long, Array[Ref.Hit]]): Boolean =
    ids.forall { q =>
      val g = got.getOrElse(q, Array.empty[Ref.Hit])
      h.recalls += Ref.recall(g.map(_._1), exactOf(q).map(_._1))
      g.length == k && Ref.wellFormed(g, k, rows) &&
        (!scoresExact || g.forall { case (id, sc) => trueScore(q)(id).exists(t => math.abs(t - sc) <= Ref.Tol) })
    }

  /** The six batch APIs at the small |Q|, then all six at the large |Q|. */
  def cycle(h: Harness, i: Int): Unit = Seq(smallQ, largeQ).foreach { size =>
    def op(name: String)(run: Seq[Long] => DataFrame)(
        check: Seq[Long] => Map[Long, Array[Ref.Hit]] => Boolean): Unit = {
      val ids = take(size)
      h.call(name, "queries", size)(collectHits(run(ids)))(check(ids))
    }
    op("vector.exact_batch")(ids =>
      ExactKNN.topKBatchHeap(corpus, "id", "vector", qf(ids), "qid", "qv", k))(exactCheck)
    op("vector.sq8_batch")(ids => sq.searchBatch(qf(ids), "qid", "qv", k))(exactCheck)
    op("vector.ivf_batch")(ids => ivf.searchBatch(qf(ids), "qid", "qv", k, nprobe))(
      approxCheck(h, scoresExact = true))
    op("vector.rpq_batch")(ids => rpq.searchBatch(qf(ids), "qid", "qv", k, nprobe))(
      approxCheck(h, scoresExact = false))
    op("text.bm25_batch")(ids => bm25.scoreBatchTopK(ids.map(q => (q, qTexts(q.toInt))), k)) {
      ids => got => ids.forall { q =>
        val t = qTexts(q.toInt)
        Ref.sameTopK(got.getOrElse(q, Array.empty[Ref.Hit]), refBm.topKSparse(t, k), refBm.scores(t).get)
      }
    }
    op("facade.hybridSearchBatch")(ids => db.hybridSearchBatch(qf(ids), "qid", "text", "qv", k)) {
      ids => got => ids.forall { q =>
        val fused = Ref.hybridScores(refBm, vecs, qTexts(q.toInt), qVecs(q.toInt), k)
        Ref.sameTopK(got.getOrElse(q, Array.empty[Ref.Hit]), Ref.hybrid(fused, k), fused.get)
      }
    }
  }

  /** Traced run only: useful-work ratios of the pruned paths and kernel /
    * operator throughput, measured from outside on cached frames. */
  override def probes(h: Harness): Map[String, Double] = {
    val ids = (0 until largeQ).map(_.toLong)
    val some = ids.take(8).map(i => qVecs(i.toInt).map(_.toDouble))
    Map(
      "vector.ivf_scanned_frac" ->
        ivf.probedCandidates(qf(ids), "qid", "qv", nprobe).count().toDouble / (ids.length.toDouble * rows),
      "vector.rpq_exact_candidates" -> Stats.mean(some.map(v => rpq.exactCandidateCount(v, k).toDouble)),
      "vector.sq8_candidate_frac" -> Stats.mean(some.map(v => sq.candidateCount(v, k).toDouble)) / rows
    ) ++ Kernels.measure(spark, this, ids)
  }
}

object BatchSearch {
  val rows = 3000
  val dim = 64
  val nlist = 32
  val nprobe = 4
  val pqM = 16
  val k = 10
  val smallQ = 4
  val largeQ = 32
  val pool = 384
}

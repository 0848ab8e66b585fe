package graftbench

import graft.VectorDatabase
import graft.dedup.Dedup
import graft.text.BM25
import graft.vector.ExactKNN
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Checks the benchmark itself: the same seed gives the same inputs, and on
  * a tiny seed the references agree with the engine's exact paths. */
object SelfTest {
  def run(spark: SparkSession): Boolean = {
    var ok = true
    def check(what: String)(cond: => Boolean): Unit = {
      val r = try cond catch { case e: Exception => System.err.println(e); false }
      System.out.println(s"selftest ${if (r) "PASS" else "FAIL"} $what")
      ok &&= r
    }
    def inputs(seed: Long) = {
      val g = new Gen(seed)
      val cs = g.mixtureModel(8, 16, 1)
      (g.mixture(50, cs, 0.5, 2).map(_.toSeq).toSeq, g.docs(50, 300, 5, 15, 3).toSeq,
        g.metas(50, 4).toSeq, g.dedupCorpus(40, 10, 300, 20, 5)._1.toSeq)
    }
    check("same seed gives the same inputs")(inputs(7) == inputs(7))
    check("different seeds give different inputs")(inputs(7) != inputs(8))

    val gen = new Gen(3)
    val n = 1200 // above the facade's exact-hybrid threshold, so the widened arm runs
    val dim = 16
    val cs = gen.mixtureModel(8, dim, 1)
    val vecs = gen.mixture(n, cs, 0.5, 2)
    val docs = gen.docs(n, 400, 4, 12, 3)
    val metas = gen.metas(n, 4)
    val qv = gen.mixture(6, cs, 0.5, 5)
    val qt = gen.queryTexts(6, 400, 6)
    val corpus = Common.corpusFrame(spark, docs, vecs, metas)
    val refBm = new Ref.BM25
    docs.foreach(refBm.add)
    def hits(rows: Array[Row]) = rows.map(r => (r.getLong(0), r.getDouble(1)))
    def trueScore(q: Array[Float])(id: Long) = Some(Ref.score(Ref.sqL2(vecs(id.toInt), q)))

    check("brute-force top-k = ExactKNN.topK") {
      qv.forall(q => Ref.sameTopK(hits(ExactKNN.topK(corpus, "id", "vector",
        q.map(_.toDouble), 10).collect()), Ref.knn(vecs, q, 10), trueScore(q)))
    }
    check("brute-force top-k = ExactKNN.topKBatchHeap") {
      val got = Common.hits(ExactKNN.topKBatchHeap(corpus, "id", "vector",
        Common.queryFrame(spark, qv.indices.map(_.toLong), qt, qv), "qid", "qv", 10)
        .select("qid", "id", "score").collect(), 0, 1, 2)
      qv.indices.forall(i => Ref.sameTopK(got(i.toLong), Ref.knn(vecs, qv(i), 10), trueScore(qv(i))))
    }
    val bm = BM25.build(corpus, "id", "doc")
    check("BM25Okapi reference = BM25.Index.score (dense)") {
      qt.forall { t =>
        val got = hits(bm.score(t).orderBy(col("score").desc, col("id").asc).limit(10).collect())
        Ref.sameTopK(got, refBm.topKDense(t, 10), i => Some(refBm.scores(t).getOrElse(i, 0.0)))
      }
    }
    check("BM25Okapi reference = BM25.Index.scoreBatchTopK (sparse)") {
      val got = Common.hits(bm.scoreBatchTopK(qt.indices.map(i => (i.toLong, qt(i))), 10)
        .select("qid", "id", "score").collect(), 0, 1, 2)
      qt.indices.forall(i => Ref.sameTopK(got.getOrElse(i.toLong, Array.empty[Ref.Hit]),
        refBm.topKSparse(qt(i), 10), refBm.scores(qt(i)).get))
    }
    val db = VectorDatabase.create(spark, dim, "flat")
    db.addBulkWithIds(corpus, "doc", "vector", Some("meta"), "id")
    check("hybrid reference = VectorDatabase.hybridSearch (flat)") {
      qv.indices.forall { i =>
        val fused = Ref.hybridScores(refBm, vecs, qt(i), qv(i), 10)
        Ref.sameTopK(hits(db.hybridSearch(qt(i), qv(i), 10).collect()), Ref.hybrid(fused, 10), fused.get)
      }
    }
    check("typed metadata filter = VectorDatabase.queryMetadata") {
      val got = db.queryMetadata(Map("cat" -> "c2", "year" -> 2005)).collect().map(_.getLong(0)).toSeq
      got == metas.indices.filter(i => metas(i)("cat") == "c2" && metas(i)("year") == 2005).map(_.toLong)
    }
    bm.dispose(); db.close()

    val (ddocs, _) = gen.dedupCorpus(150, 60, 200, 24, 7)
    val ddf = spark.createDataFrame(java.util.Arrays.asList(
      ddocs.indices.map(i => Row(i.toLong, ddocs(i))): _*),
      StructType(Seq(StructField("id", LongType), StructField("doc", StringType))))
    val sets = ddocs.map(d => Ref.shingles(d))
    val want = Ref.jaccardPairs(i => sets(i), ddocs.indices, ddocs.indices, 0.6)
    val got = Dedup.jaccardPairs(ddf, "id", "doc", 3, 0.6).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    check("3-gram Jaccard reference = Dedup.jaccardPairs") {
      got.nonEmpty && got.keySet == want.keySet &&
        got.forall { case (p, j) => math.abs(want(p) - j) <= Ref.Tol }
    }
    check("union-find reference = Dedup.connectedComponents") {
      val pairsDf = spark.createDataFrame(java.util.Arrays.asList(
        want.keys.toSeq.map { case (a, b) => Row(a, b) }: _*),
        StructType(Seq(StructField("a", LongType), StructField("b", LongType))))
      Dedup.connectedComponents(pairsDf).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap ==
        Ref.components(want.keys)
    }
    corpus.unpersist()
    ok
  }
}

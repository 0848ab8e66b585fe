package graft

import graft.text.BM25
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** The batch hybrid search against a dense driver-side fusion
  * ([[HybridRef]]) on both arms, and the BM25 and hybrid scores'
  * independence of partitioning. */
class HybridBatchSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val dim = 4

  private case class Corpus(docs: IndexedSeq[String], vecs: IndexedSeq[Array[Float]]) {
    def n: Int = docs.size
    /** Every doc in group "a" or "b" (id % 2), as JSON metadata. */
    def frame(parts: Int): DataFrame = spark.createDataFrame(
      spark.sparkContext.parallelize(docs.indices.map(i =>
        Row(i.toLong, docs(i), vecs(i).toSeq, s"""{"g":"${if (i % 2 == 0) "a" else "b"}"}""")), parts),
      StructType(Seq(StructField("id", LongType), StructField("doc", StringType),
        StructField("vector", ArrayType(FloatType)), StructField("meta", StringType))))
    def db(parts: Int = 3): VectorDatabase = {
      val d = VectorDatabase.create(spark, dim, "flat")
      d.addBulkWithIds(frame(parts), "doc", "vector", Some("meta"), "id")
      d
    }
  }

  private def gridVec(rnd: scala.util.Random): Array[Float] =
    Array.fill(dim)((rnd.nextInt(17) - 8) * 0.25f)

  /** Zipf-ish words, 3–10 tokens per doc, some repeated. */
  private def mixed(seed: Int, n: Int): Corpus = {
    val rnd = new scala.util.Random(seed)
    val words = (0 until 40).map(i => s"w$i")
    def word() = words(math.min(39, (rnd.nextDouble() * rnd.nextDouble() * 40).toInt))
    Corpus((0 until n).map(_ => Seq.fill(3 + rnd.nextInt(8))(word()).mkString(" ")),
      (0 until n).map(_ => gridVec(rnd)))
  }

  private def queryFrame(qs: Seq[(Long, String, Array[Float])]): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(qs.map { case (qid, t, v) =>
        Row(qid, t, if (v == null) null else v.toSeq) }: _*),
      StructType(Seq(StructField("qid", LongType), StructField("text", StringType),
        StructField("qv", ArrayType(FloatType)))))

  private def byQuery(df: DataFrame): Map[Long, Seq[(Long, Double)]] =
    df.collect().toSeq.map(r => (r.getLong(0), (r.getLong(1), r.getDouble(2))))
      .groupBy(_._1).view.mapValues(_.map(_._2)).toMap

  /** Ids equal rank for rank; scores within 1e-9 (the driver sums BM25
    * terms in another order). */
  private def checkAll(what: String, c: Corpus, db: VectorDatabase,
                       qs: Seq[(Long, String, Array[Float])], topK: Int, w: Double = 0.5,
                       filter: Option[(Column, Int => Boolean)] = None,
                       restrict: Option[(Long, Int) => Boolean] = None): Unit =
    for (threshold <- Seq(0L, Long.MaxValue)) {
      val allow = restrict.map { r =>
        spark.createDataFrame(java.util.Arrays.asList(
            (for ((qid, _, _) <- qs; i <- 0 until c.n if r(qid, i)) yield Row(qid, i.toLong)): _*),
          StructType(Seq(StructField("qid", LongType), StructField("id", LongType))))
      }
      val got = byQuery(db.hybridSearchBatch(queryFrame(qs), "qid", "text", "qv", topK = topK,
        vectorWeight = w, filter = filter.map(_._1), exactThreshold = threshold, restrict = allow))
      qs.foreach { case (qid, text, q) =>
        val pass = (i: Int) => filter.forall(_._2(i)) && restrict.forall(_(qid, i))
        val want = HybridRef.expected(c.docs, c.vecs, text, q, topK, w, probe = threshold == 0L, pass)
        val g = got.getOrElse(qid, Nil)
        val at = s"$what (threshold $threshold) qid $qid"
        assert(g.map(_._1) == want.map(_._1), s"$at\n got: $g\nwant: $want")
        g.zip(want).foreach { case ((_, a), (_, b)) => assert(math.abs(a - b) < 1e-9, s"$at: $a vs $b") }
      }
    }

  private lazy val corpus = mixed(11, 320)
  private lazy val db = corpus.db()

  private def queries(seed: Int, texts: Seq[String]): Seq[(Long, String, Array[Float])] = {
    val rnd = new scala.util.Random(seed)
    texts.zipWithIndex.map { case (t, j) => (10L + j, t, gridVec(rnd)) }
  }

  private lazy val four = queries(3, Seq("w0 w3", "w7 w7 w12", "w1 w2 w5 w30", "w39 unknown"))

  test("probe and exact arms == dense fusion, |Q| in {1,4}, with and without filter") {
    val groupA = (col("meta").contains("\"a\""), (i: Int) => i % 2 == 0)
    for (topK <- Seq(3, 10)) {
      checkAll(s"four topK=$topK", corpus, db, four, topK)
      checkAll(s"four filtered topK=$topK", corpus, db, four, topK, filter = Some(groupA))
      checkAll(s"one topK=$topK", corpus, db, four.take(1), topK)
    }
    checkAll("text only", corpus, db, four, 5, w = 0.0)
    checkAll("vector only", corpus, db, four, 5, w = 1.0)
  }

  test("per-query restrict, alone and under a filter") {
    val allow = (qid: Long, i: Int) => i % 3 == qid % 3
    checkAll("restrict", corpus, db, four, 5, restrict = Some(allow))
    checkAll("restrict + filter", corpus, db, four, 5,
      filter = Some((col("meta").contains("\"b\""), (i: Int) => i % 2 == 1)), restrict = Some(allow))
  }

  test("queries with no known term, and topK above the matched count") {
    val rare = queries(5, Seq("nothing here", "w39", "w38 w39 nothing"))
    checkAll("rare", corpus, db, rare, 40)
  }

  test("a vocabulary whose BM25 scores are all negative (tm <= 0)") {
    val rnd = new scala.util.Random(17)
    // every term sits in more than half the docs: every raw idf is negative
    val c = Corpus((0 until 240).map(i => if (i % 4 == 0) "x y" else "x y z"),
      (0 until 240).map(_ => gridVec(rnd)))
    assert(HybridRef.bm25(c.docs, "x z").values.forall(_ < 0))
    checkAll("negative", c, c.db(), queries(7, Seq("x z", "z", "y y")), 5)
  }

  test("planted ts ties at the topK + W cut") {
    val rnd = new scala.util.Random(23)
    // docs 0..199 share one text (equal ts) and sit far from the queries;
    // the probe set is docs 200..299, which share no query term — the
    // fused ties are broken by id, at and beyond the BM25 cut (topK + W = 105)
    val c = Corpus((0 until 300).map(i => if (i < 200) "tie tie" else s"other u$i"),
      (0 until 300).map(i =>
        if (i < 200) Array.fill(dim)(40f + rnd.nextInt(5)) else gridVec(rnd)))
    val qs = queries(9, Seq("tie", "tie other"))
    checkAll("ties", c, c.db(), qs, 5)
    checkAll("ties, text only", c, c.db(), qs, 5, w = 0.0)
  }

  test("a null query vector scores vs = 0 on both arms, |Q| in {1,3}") {
    val rnd = new scala.util.Random(41)
    val qs = Seq((1L, "w0 w3", null: Array[Float]), (2L, "w7 w12", gridVec(rnd)),
      (3L, "w1 w2", gridVec(rnd)))
    checkAll("null qv alone", corpus, db, qs.take(1), 5)
    checkAll("null qv beside normal queries", corpus, db, qs, 5)
    checkAll("null qv, filtered", corpus, db, qs, 5,
      filter = Some((col("meta").contains("\"a\""), (i: Int) => i % 2 == 0)))
  }

  test("BM25 and hybrid scores are bit-identical at corpus partitions {1,3,7} x shuffle {1,7,32}") {
    val c = mixed(29, 200)
    val texts = Seq(1L -> "w0 w3 w3", 2L -> "w9 w17", 3L -> "w1 w2 w5 w30")
    val qs = queries(31, texts.map(_._2))
    def run(parts: Int): Seq[Any] = {
      val ix = BM25.build(c.frame(parts), "id", "doc")
      val d = c.db(parts)
      def rows(df: DataFrame) = df.collect().toSeq.map(_.toSeq)
      try Seq(
        rows(ix.score("w0 w3 w17").orderBy("id")),
        rows(ix.scoreBatchTopK(texts, 7)),
        rows(ix.scoreBatchTopKFrames(spark.createDataFrame(texts).toDF("qid", "text"), "qid", "text", 7)),
        rows(d.hybridSearchBatch(queryFrame(qs), "qid", "text", "qv", topK = 6, exactThreshold = 0L)),
        rows(d.hybridSearchBatch(queryFrame(qs), "qid", "text", "qv", topK = 6)))
      finally ix.dispose()
    }
    val key = "spark.sql.shuffle.partitions"
    val prev = spark.conf.get(key)
    val results =
      try for (parts <- Seq(1, 3, 7); shuffle <- Seq(1, 7, 32)) yield {
        spark.conf.set(key, shuffle.toString)
        (parts, shuffle) -> run(parts)
      }
      finally spark.conf.set(key, prev)
    results.tail.foreach { case (at, r) =>
      r.zip(results.head._2).zipWithIndex.foreach { case ((a, b), i) =>
        assert(a == b, s"result $i at (partitions, shuffle) = $at differs:\n$a\n$b")
      }
    }
  }
}

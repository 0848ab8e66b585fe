package graft

import graft.plans.KnnTopKExec
import graft.text.BM25
import graft.vector.{ExactKNN, IVFIndex, LSHIndex, PQIndex, ResidualPQ, SQIndex}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.{LocalTableScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}
import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** The fused batch-KNN operator ([[graft.plans.KnnTopK]]) behind the exact,
  * SQ8, IVF, PQ, residual-PQ, LSH and BM25 batch paths, against the
  * driver-side [[BruteForceKnn]]:
  * bit-identical results over planted ties, duplicate and null vectors,
  * k > N and |Q| = 1, at every corpus partition count and shuffle width;
  * the plan shape; the exec's metrics; the empty cases. */
class KnnTopKSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {
  private lazy val spark = TestSpark.spark
  private val dim = 6

  private val corpusSchema = StructType(Seq(StructField("id", LongType, nullable = false),
    StructField("vector", ArrayType(FloatType, containsNull = false), nullable = true)))
  private val querySchema = StructType(Seq(StructField("qid", LongType, nullable = false),
    StructField("qv", ArrayType(FloatType, containsNull = false), nullable = true)))

  /** Coordinates on a half-integer grid (exact in float) so that distances
    * tie exactly; every 9th row duplicates an earlier vector, every 13th
    * is null; no zero vector (cosine would be undefined). */
  private def corpusRows(seed: Int, n: Int): Seq[(Long, Array[Double])] = {
    val rnd = new scala.util.Random(seed)
    def vec(): Array[Double] = {
      val v = Array.fill(dim)((rnd.nextInt(7) - 3) * 0.5)
      if (v.forall(_ == 0.0)) vec() else v
    }
    val base = (0 until n).map(i => (i.toLong, vec()))
    base.map { case (id, v) =>
      if (id % 13 == 12) (id, null)
      else if (id % 9 == 8) (id, base((id / 3).toInt)._2.clone())
      else (id, v)
    }
  }

  private def frame(rows: Seq[(Long, Array[Double])], schema: StructType, parts: Int): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rows.map { case (id, v) =>
      Row(id, if (v == null) null else v.map(_.toFloat).toSeq)
    }, parts), schema)

  private def queryRows(seed: Int, n: Int, corpus: Seq[(Long, Array[Double])]) = {
    val rnd = new scala.util.Random(seed * 31 + n)
    (0 until n).map { j =>
      // half the queries sit ON a corpus vector (ties at distance 0)
      val v = if (j % 2 == 0) corpus.filter(_._2 != null)(rnd.nextInt(corpus.size / 2))._2
              else Array.fill(dim)((rnd.nextInt(9) - 4) * 0.25)
      (100L + j, v)
    }
  }

  private def withShufflePartitions[T](n: Int)(f: => T): T = {
    val key = "spark.sql.shuffle.partitions"
    val prev = spark.conf.get(key)
    spark.conf.set(key, n.toString)
    try f finally spark.conf.set(key, prev)
  }

  private def check(what: String, got: DataFrame, want: Seq[(Long, Long, java.lang.Double)]): Unit = {
    val g = BruteForceKnn.collect(got)
    assert(BruteForceKnn.same(g, want), s"$what\n got: $g\nwant: $want")
  }

  private val n = 60
  private val ks = Seq(1, 4, n + 3)

  test("property: exact L2Sq/L2/cosine batch == brute force at partitions {1,3,7} x shuffle {1,7}") {
    val rows = corpusRows(7, n)
    val metrics = Seq(ExactKNN.L2Sq -> BruteForceKnn.L2Sq, ExactKNN.L2 -> BruteForceKnn.L2,
      ExactKNN.Cosine -> BruteForceKnn.Cosine)
    for (sp <- Seq(1, 7); parts <- Seq(1, 3, 7)) withShufflePartitions(sp) {
      val corpus = frame(rows, corpusSchema, parts)
      for (nq <- Seq(1, 4); k <- ks; (m, bm) <- metrics) {
        val qs = queryRows(parts + k, nq, rows)
        val got = ExactKNN.topKBatch(corpus, "id", "vector", frame(qs, querySchema, 1),
          "qid", "qv", k, m)
        check(s"exact $m parts=$parts sp=$sp |Q|=$nq k=$k", got,
          BruteForceKnn.topK(rows, qs, k, bm))
      }
    }
  }

  test("property: SQ8 batch (L2 and cosine) == brute force at partitions {1,3,7} x shuffle {1,7}") {
    val rows = corpusRows(11, n)
    // SQ8 never scores a null vector; cosine also skips zero-norm rows
    val live = rows.filter(_._2 != null)
    for (sp <- Seq(1, 7); parts <- Seq(1, 3, 7)) withShufflePartitions(sp) {
      val index = SQIndex.build(frame(rows, corpusSchema, parts), "id", "vector")
      try for (nq <- Seq(1, 4); k <- ks) {
        val qs = queryRows(parts * 5 + k, nq, rows)
        val q = frame(qs, querySchema, 1)
        check(s"sq8 l2 parts=$parts sp=$sp |Q|=$nq k=$k", index.searchBatch(q, "qid", "qv", k),
          BruteForceKnn.topK(live, qs, k, BruteForceKnn.L2Sq, round = true))
        check(s"sq8 cosine parts=$parts sp=$sp |Q|=$nq k=$k",
          index.searchBatchCosine(q, "qid", "qv", k),
          BruteForceKnn.topK(live, qs, k, BruteForceKnn.Cosine, round = true))
      } finally index.dispose()
    }
  }

  /** An IVF index over `rows` with centroids trained on the non-null rows;
    * null-vector rows sit in cell 0 of the assignment frame. */
  private def ivfOver(rows: Seq[(Long, Array[Double])], parts: Int): (IVFIndex, Map[Long, Int]) = {
    val trained = IVFIndex.build(frame(rows.filter(_._2 != null), corpusSchema, 1), "id", "vector",
      nlist = 5)
    val cents = trained.centroids
    trained.dispose()
    def nearest(v: Array[Double]): Int = cents.minBy { case (c, cen) =>
      (v.zip(cen).map { case (a, b) => (a - b) * (a - b) }.foldLeft(0.0)(_ + _), c)
    }._1
    val cell = rows.map { case (id, v) => id -> (if (v == null) 0 else nearest(v)) }.toMap
    val schema = corpusSchema.add(StructField("cluster", IntegerType, nullable = false))
    val assignments = spark.createDataFrame(spark.sparkContext.parallelize(rows.map {
      case (id, v) => Row(id, if (v == null) null else v.map(_.toFloat).toSeq, cell(id))
    }, parts), schema)
    (new IVFIndex(cents, assignments, cents.length), cell)
  }

  /** The probe set recomputed on the driver: nprobe nearest centroids by
    * squared L2, ties by cluster id. */
  private def probe(centroids: Array[(Int, Array[Double])], q: Array[Double], nprobe: Int): Set[Int] =
    centroids.toSeq.map { case (c, cen) =>
      var d = 0.0
      for (i <- cen.indices) d += (q(i) - cen(i)) * (q(i) - cen(i))
      (d, c)
    }.sorted.take(nprobe).map(_._2).toSet

  test("property: IVF broadcast arm == brute force over the probed cells at partitions {1,3,7} x shuffle {1,7}") {
    val rows = corpusRows(23, n)
    for (sp <- Seq(1, 7); parts <- Seq(1, 3, 7)) withShufflePartitions(sp) {
      val (index, cell) = ivfOver(rows, parts)
      for (nq <- Seq(1, 4); k <- ks; nprobe <- Seq(1, 2, index.nlist)) {
        val qs = queryRows(parts + nprobe + k, nq, rows)
        val got = index.searchBatch(frame(qs, querySchema, 1), "qid", "qv", k, nprobe)
        check(s"ivf parts=$parts sp=$sp |Q|=$nq k=$k nprobe=$nprobe", got,
          BruteForceKnn.topK(rows, qs, k, BruteForceKnn.L2Sq,
            eligible = (_, q, id) => probe(index.centroids, q, nprobe).contains(cell(id))))
      }
    }
  }

  private val codesSchema = StructType(Seq(StructField("id", LongType, nullable = false),
    StructField("cluster", IntegerType, nullable = false),
    StructField("codes", ArrayType(IntegerType, containsNull = false), nullable = false)))

  /** (id, cell, codes) of a PQ codes frame; cell 0 without a cluster column. */
  private def codeRows(codes: DataFrame): Seq[(Long, Int, Array[Int])] = {
    val cell = if (codes.columns.contains("cluster")) codes("cluster") else org.apache.spark.sql.functions.lit(0)
    codes.select(codes("id"), cell, codes("codes")).collect().toSeq
      .map(r => (r.getLong(0), r.getInt(1), r.getSeq[Int](2).toArray))
  }

  private def codesFrame(rows: Seq[(Long, Int, Array[Int])], parts: Int): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rows.map { case (id, c, cs) =>
      Row(id, c, cs.toSeq) }, parts), codesSchema)

  /** The brute-force ADC encoding of code rows: (id, cell +: codes). */
  private def adcRows(rows: Seq[(Long, Int, Array[Int])]): Seq[(Long, Array[Double])] =
    rows.map { case (id, c, cs) => (id, (c +: cs.toSeq).map(_.toDouble).toArray) }

  /** Some table puts row vector `x` within `r` buckets of `q`'s. */
  private def inBucket(lsh: LSHIndex, r: Int, x: Array[Double], q: Array[Double]): Boolean =
    x != null && lsh.hyperplanes.exists { w =>
      def b(v: Array[Double]): Long = math.floor(
        v.zip(w).map { case (a, c) => a * c }.foldLeft(0.0)(_ + _) / lsh.bucketLength).toLong
      math.abs(b(x) - b(q)) <= r
    }

  test("property: PQ, residual PQ and LSH batch == brute force at partitions {1,3,7} x shuffle {1,7}") {
    val rows = corpusRows(29, n)
    val live = rows.filter(_._2 != null)
    val vec = rows.toMap
    val trainOn = frame(live, corpusSchema, 1)
    val pq = PQIndex.build(trainOn, "id", "vector", dim, m = 3)
    val ivf = IVFIndex.build(trainOn, "id", "vector", nlist = 5)
    val rpq = ResidualPQ.build(ivf, dim, m = 3)
    val (pqRows, rpqRows) = (codeRows(pq.codes), codeRows(rpq.codes))
    val rpqCell = rpqRows.map { case (id, c, _) => id -> c }.toMap
    for (sp <- Seq(1, 7); parts <- Seq(1, 3, 7)) withShufflePartitions(sp) {
      val pqp = new PQIndex(codesFrame(pqRows, parts).drop("cluster"), pq.codebooks, dim)
      val rpqp = new ResidualPQ(codesFrame(rpqRows, parts), rpq.centroids, rpq.codebooks, dim)
      val lsh = LSHIndex.build(frame(rows, corpusSchema, parts), "id", "vector",
        numHashTables = 3, bucketLength = 1.0)
      try for (nq <- Seq(1, 4); k <- ks) {
        val qs = queryRows(parts * 3 + k, nq, rows)
        val q = frame(qs, querySchema, 1)
        val at = s"parts=$parts sp=$sp |Q|=$nq k=$k"
        check(s"pq $at", pqp.searchBatch(q, "qid", "qv", k),
          BruteForceKnn.topK(adcRows(pqRows), qs, k, BruteForceKnn.Adc(pq.codebooks, Map.empty)))
        for (nprobe <- Seq(1, 2, rpq.centroids.length))
          check(s"residual pq nprobe=$nprobe $at", rpqp.searchBatch(q, "qid", "qv", k, nprobe),
            BruteForceKnn.topK(adcRows(rpqRows), qs, k,
              BruteForceKnn.Adc(rpq.codebooks, rpq.centroids.toMap),
              eligible = (_, qv, id) => probe(rpq.centroids, qv, nprobe).contains(rpqCell(id))))
        for (r <- Seq(0, 1))
          check(s"lsh radius=$r $at", lsh.searchBatch(q, "qid", "qv", k, probeRadius = r),
            BruteForceKnn.topK(rows, qs, k, BruteForceKnn.L2Sq,
              eligible = (_, qv, id) => inBucket(lsh, r, vec(id), qv)))
        check(s"lsh exact $at", lsh.searchBatch(q, "qid", "qv", k, exact = true),
          BruteForceKnn.topK(live, qs, k, BruteForceKnn.L2Sq))
      } finally lsh.dispose()
    }
    pq.dispose(); rpq.dispose(); ivf.dispose()
  }

  private def finalPlan(df: DataFrame): SparkPlan = { df.collect(); df.queryExecution.executedPlan }

  private def knnExec(p: SparkPlan): KnnTopKExec =
    collect(p) { case e: KnnTopKExec => e }.head

  /** The index frames and a 3-row query block used by the plan and metric pins. */
  private lazy val fixture = {
    val rows = corpusRows(5, 300)
    val corpus = frame(rows, corpusSchema, 3).cache()
    val sq = SQIndex.build(corpus, "id", "vector")
    val (ivf, _) = ivfOver(rows, 3)
    val queries = frame(queryRows(5, 3, rows), querySchema, 1)
    (rows, corpus, sq, ivf, queries)
  }

  /** PQ, residual-PQ and LSH indexes over the fixture corpus. */
  private lazy val compressed = {
    val (_, corpus, _, _, _) = fixture
    val live = corpus.where(org.apache.spark.sql.functions.col("vector").isNotNull)
    val rpq = ResidualPQ.build(IVFIndex.build(live, "id", "vector", nlist = 5), dim, m = 3)
    (PQIndex.build(live, "id", "vector", dim, m = 3), rpq, LSHIndex.build(corpus, "id", "vector",
      numHashTables = 3, bucketLength = 1.0))
  }

  test("plan shape: exact, SQ8 and IVF batch run KnnTopK — no NLJ, no sort, no range exchange, one shuffle") {
    val (_, corpus, sq, ivf, queries) = fixture
    val plans = Seq(
      "exact" -> ExactKNN.topKBatchHeap(corpus, "id", "vector", queries, "qid", "qv", 5),
      "sq8" -> sq.searchBatch(queries, "qid", "qv", 5),
      "ivf" -> ivf.searchBatch(queries, "qid", "qv", 5, nprobe = 2))
    for ((name, df) <- plans) {
      val p = finalPlan(df)
      val shuffles = collect(p) { case s: ShuffleExchangeExec => s }
      assert(collect(p) { case e: KnnTopKExec => e }.size == 1, s"$name:\n$p")
      assert(collect(p) { case j: BroadcastNestedLoopJoinExec => j }.isEmpty, s"$name:\n$p")
      assert(collect(p) { case s: org.apache.spark.sql.execution.SortExec => s }.isEmpty, s"$name:\n$p")
      assert(!shuffles.exists(_.outputPartitioning.isInstanceOf[RangePartitioning]), s"$name:\n$p")
      assert(shuffles.size <= 1, s"$name:\n$p")
    }
  }

  test("plan shape: PQ, residual PQ and LSH batch run KnnTopK — no cartesian, no corpus exchange") {
    val (_, _, _, _, queries) = fixture
    val (pq, rpq, lsh) = compressed
    val plans = Seq(
      "pq" -> pq.searchBatch(queries, "qid", "qv", 5),
      "residual pq" -> rpq.searchBatch(queries, "qid", "qv", 5, nprobe = 2),
      "lsh" -> lsh.searchBatch(queries, "qid", "qv", 5, probeRadius = 1))
    for ((name, df) <- plans) {
      val p = finalPlan(df)
      val execs = collect(p) { case e: KnnTopKExec => e }
      assert(execs.size == 1, s"$name:\n$p")
      assert(collect(p) { case j: BroadcastNestedLoopJoinExec => j }.isEmpty, s"$name:\n$p")
      assert(collect(p) { case j: CartesianProductExec => j }.isEmpty, s"$name:\n$p")
      assert(collect(execs.head.left) { case s: ShuffleExchangeExec => s }.isEmpty, s"$name:\n$p")
    }
  }

  test("metrics: pairs scored, pairs pruned by the SQ8 bound, pairs skipped by IVF cell") {
    val (rows, corpus, sq, ivf, queries) = fixture
    val total = rows.size.toLong * 3
    val live = rows.count(_._2 != null).toLong * 3
    def m(e: KnnTopKExec, name: String): Long = e.metrics(name).value

    val exact = knnExec(finalPlan(ExactKNN.topKBatch(corpus, "id", "vector", queries, "qid", "qv", 5)))
    assert(m(exact, "pairsScored") == total)
    assert(m(exact, "sq8Pruned") == 0 && m(exact, "probeSkipped") == 0)

    val s = knnExec(finalPlan(sq.searchBatch(queries, "qid", "qv", 5)))
    assert(m(s, "pairsScored") + m(s, "sq8Pruned") == live)
    assert(m(s, "sq8Pruned") > 0, s"the SQ8 bound pruned nothing: ${s.metrics}")

    val v = knnExec(finalPlan(ivf.searchBatch(queries, "qid", "qv", 5, nprobe = 2)))
    assert(m(v, "pairsScored") + m(v, "probeSkipped") == total)
    assert(m(v, "probeSkipped") > 0 && m(v, "pairsScored") > 0, v.metrics.toString)
  }

  /** A small text corpus, its BM25 index and a query batch. */
  private lazy val text = {
    import spark.implicits._
    val docs = Seq("the cat sat", "a dog barked at the cat", "quick brown fox", "lorem ipsum",
      "cat and dog", "", "fox fox fox")
    val ix = BM25.build(docs.zipWithIndex.map { case (d, i) => (i.toLong, d) }.toDF("id", "doc"),
      "id", "doc")
    (docs, ix, Seq(1L -> "cat", 2L -> "fox dog", 3L -> "nothing known", 4L -> "the the lorem"))
  }

  test("plan shape: a local query block is read with no broadcast exchange; BM25 and hybrid batches run KnnTopK") {
    val (rows, corpus, _, _, _) = fixture
    val local = spark.createDataFrame(java.util.Arrays.asList(queryRows(5, 3, rows).map { case (q, v) =>
      Row(q, v.map(_.toFloat).toSeq) }: _*), querySchema)
    val exact = finalPlan(ExactKNN.topKBatchHeap(corpus, "id", "vector", local, "qid", "qv", 5))
    assert(collect(knnExec(exact).right) { case l: LocalTableScanExec => l }.nonEmpty, s"$exact")
    assert(collect(exact) { case b: BroadcastExchangeExec => b }.isEmpty, s"$exact")

    val (_, ix, qs) = text
    val bm = finalPlan(ix.scoreBatchTopK(qs, 2))
    assert(collect(bm) { case e: KnnTopKExec => e }.size == 1, s"$bm")
    assert(collect(bm) { case b: BroadcastExchangeExec => b }.isEmpty, s"$bm")
    assert(collect(bm) { case j: CartesianProductExec => j }.isEmpty, s"$bm")

    val db = VectorDatabase.create(spark, dim, "flat")
    db.add(text._1, text._1.indices.map(i => rows(i)._2.map(_.toFloat)), None)
    val hq = spark.createDataFrame(java.util.Arrays.asList(qs.zipWithIndex.map { case ((q, t), j) =>
        Row(q, t, rows(j)._2.map(_.toFloat).toSeq) }: _*),
      StructType(Seq(StructField("qid", LongType), StructField("text", StringType),
        StructField("qv", ArrayType(FloatType)))))
    // the hybrid batch is fused on the driver and returned as a local
    // frame; the passes it ran are the vector and the BM25 KnnTopK, with
    // no cartesian and no exchange
    var hy: DataFrame = null
    val ran = SparkProbe.plans {
      hy = db.hybridSearchBatch(hq, "qid", "text", "qv", topK = 2, exactThreshold = 0L)
    }
    assert(collect(finalPlan(hy)) { case l: LocalTableScanExec => l }.size == 1, s"${finalPlan(hy)}")
    val passes = ran.filter(p => collect(p) { case e: KnnTopKExec => e }.nonEmpty)
    assert(passes.size == 2, ran.mkString("\n"))
    passes.foreach { p =>
      assert(collect(p) { case j: CartesianProductExec => j }.isEmpty, s"$p")
      assert(collect(p) { case s: ShuffleExchangeExec => s }.isEmpty, s"$p")
    }
  }

  test("merge paths: collect (driver merge) == rows read through execute, every scorer, partitions {1,3,7} x shuffle {1,7}") {
    import org.apache.spark.sql.functions.col
    val rows = corpusRows(37, n)
    val live = rows.filter(_._2 != null)
    val (docs, _, texts) = text
    val trainOn = frame(live, corpusSchema, 1)
    val pqTrained = PQIndex.build(trainOn, "id", "vector", dim, m = 3)
    val ivfTrained = IVFIndex.build(trainOn, "id", "vector", nlist = 5)
    val rpqTrained = ResidualPQ.build(ivfTrained, dim, m = 3)
    val (pqRows, rpqRows) = (codeRows(pqTrained.codes), codeRows(rpqTrained.codes))
    for (sp <- Seq(1, 7); parts <- Seq(1, 3, 7)) withShufflePartitions(sp) {
      val corpus = frame(rows, corpusSchema, parts)
      val sq = SQIndex.build(corpus, "id", "vector")
      val (ivf, _) = ivfOver(rows, parts)
      val pq = new PQIndex(codesFrame(pqRows, parts).drop("cluster"), pqTrained.codebooks, dim)
      val rpq = new ResidualPQ(codesFrame(rpqRows, parts), rpqTrained.centroids, rpqTrained.codebooks, dim)
      val lsh = LSHIndex.build(corpus, "id", "vector", numHashTables = 3, bucketLength = 1.0)
      val bm = BM25.build(spark.createDataFrame(spark.sparkContext.parallelize(
        docs.zipWithIndex.map { case (d, i) => Row(i.toLong, d) }, parts),
        StructType(Seq(StructField("id", LongType), StructField("doc", StringType)))), "id", "doc")
      val q = frame(queryRows(parts + sp, 4, rows), querySchema, 1)
      try {
        val frames = Seq(
          "exact" -> ExactKNN.topKBatch(corpus, "id", "vector", q, "qid", "qv", 4),
          "sq8 l2" -> sq.searchBatch(q, "qid", "qv", 4),
          "sq8 cosine" -> sq.searchBatchCosine(q, "qid", "qv", 4),
          "ivf" -> ivf.searchBatch(q, "qid", "qv", 4, nprobe = 2),
          "pq" -> pq.searchBatch(q, "qid", "qv", 4),
          "residual pq" -> rpq.searchBatch(q, "qid", "qv", 4, nprobe = 2),
          "lsh" -> lsh.searchBatch(q, "qid", "qv", 4, probeRadius = 1),
          "bm25" -> bm.scoreBatchTopK(texts, 2))
        for ((name, df) <- frames) {
          val at = s"$name parts=$parts sp=$sp"
          val driver = df.collect().toSeq
          assert(driver.nonEmpty, at)
          assert(df.rdd.collect().toSeq == driver, s"$at: .rdd")
          assert(df.where(col("id") >= 0L).collect().toSeq == driver, s"$at: filter above")
          assert(df.count() == driver.size, s"$at: count")
          val joined = df.join(spark.range(1000).toDF("id"), Seq("id"))
            .select("qid", "id", "score").collect().toSeq
          assert(joined.sortBy(r => (r.getLong(0), r.getLong(1))) ==
            driver.sortBy(r => (r.getLong(0), r.getLong(1))), s"$at: join above")
        }
      } finally { sq.dispose(); lsh.dispose(); bm.dispose() }
    }
    pqTrained.dispose(); rpqTrained.dispose(); ivfTrained.dispose()
  }

  test("jobs: a collected batch search is one job, a BM25 batch two, a hybrid probe arm three") {
    val (rows, corpus, sq, ivf, _) = fixture
    val (pq, rpq, lsh) = compressed
    val local = spark.createDataFrame(java.util.Arrays.asList(queryRows(5, 3, rows).map { case (q, v) =>
      Row(q, v.map(_.toFloat).toSeq) }: _*), querySchema)
    val searches = Seq(
      "exact" -> ExactKNN.topKBatch(corpus, "id", "vector", local, "qid", "qv", 5),
      "sq8 l2" -> sq.searchBatch(local, "qid", "qv", 5),
      "sq8 cosine" -> sq.searchBatchCosine(local, "qid", "qv", 5),
      "ivf" -> ivf.searchBatch(local, "qid", "qv", 5, nprobe = 2),
      "pq" -> pq.searchBatch(local, "qid", "qv", 5),
      "residual pq" -> rpq.searchBatch(local, "qid", "qv", 5, nprobe = 2),
      "lsh" -> lsh.searchBatch(local, "qid", "qv", 5, probeRadius = 1))
    for ((name, df) <- searches) {
      df.collect() // materialize the cached index frames outside the count
      assert(SparkProbe.jobs(df.collect()) == 1, name)
    }
    val (docs, ix, qs) = text
    ix.scoreBatchTopK(qs, 2).collect()
    assert(SparkProbe.jobs(ix.scoreBatchTopK(qs, 2).collect()) == 2, "bm25: vocabulary lookup + pass")
    val db = VectorDatabase.create(spark, dim, "flat")
    db.add(docs, docs.indices.map(i => rows(i)._2.map(_.toFloat)), None)
    val hq = spark.createDataFrame(java.util.Arrays.asList(qs.zipWithIndex.map { case ((q, t), j) =>
        Row(q, t, rows(j)._2.map(_.toFloat).toSeq) }: _*),
      StructType(Seq(StructField("qid", LongType), StructField("text", StringType),
        StructField("qv", ArrayType(FloatType)))))
    def hybrid() = db.hybridSearchBatch(hq, "qid", "text", "qv", topK = 2, exactThreshold = 0L).collect()
    hybrid()
    assert(SparkProbe.jobs(hybrid()) == 3, "hybrid probe arm: vocabulary lookup, vector pass, BM25 pass")
  }

  test("jobs: a collected hnsw queryVector is one job, a filtered probe two, and an append's cache fill one more") {
    val local = new scala.util.Random(17)
    def vecs(n: Int) = Seq.fill(n)(Array.fill(dim)(local.nextFloat()))
    def metas(n: Int) = Some(Seq.tabulate(n)(i => Map[String, Any]("cat" -> s"c${i % 4}")))
    val vs = vecs(300)
    val q = vs(7)
    // efSearch 50 < 300 rows: the tuned beam; ivfpq's nprobe 1 of 8 cells
    for (t <- Seq("hnsw", "ivfpq")) {
      val db = VectorDatabase.create(spark, dim, t, ivfClusters = 8)
      db.add(vs.indices.map(i => s"doc $i"), vs, metas(vs.length))
      val pre = Some(db.metaValue("cat") === org.apache.spark.sql.functions.lit("\"c1\""))
      db.queryVector(q, 10).collect() // builds the index, filling the collection's cache
      def unfiltered() = SparkProbe.jobs(db.queryVector(q, 10).collect())
      def filtered() = SparkProbe.jobs(db.queryVector(q, 10, preFilter = pre).collect())
      if (t == "hnsw") assert(unfiltered() == 1, t)
      assert(filtered() == 2, s"$t: the broadcast allow-list and the pass")
      db.add(Seq.tabulate(25)(i => s"more $i"), vecs(25), metas(25))
      // the allow-list still broadcasts (the facade knows the row count
      // the unfilled cache cannot give Spark); the first filtered call
      // also fills the collection's new cache
      if (t == "hnsw") assert(unfiltered() == 1, s"$t appended") else unfiltered()
      assert(filtered() == 3, s"$t appended: the cache fill, the allow-list and the pass")
      assert(filtered() == 2, s"$t appended")
      db.close()
    }
  }

  test("metrics: BM25 pairs scored are the (doc, query) pairs sharing a term, the rest skipped") {
    val (docs, ix, qs) = text
    val sharing = (for (d <- docs; (_, q) <- qs
      if q.split(" ").toSet.intersect(d.split(" ").filter(_.nonEmpty).toSet).nonEmpty) yield 1).size
    val e = knnExec(finalPlan(ix.scoreBatchTopK(qs, 2)))
    assert(e.metrics("pairsScored").value == sharing)
    assert(e.metrics("probeSkipped").value == docs.size * qs.size - sharing)
  }

  test("k <= 0 gives an empty (qid, id, score) frame on every batch path, like the single-query topK") {
    val (rows, corpus, sq, ivf, queries) = fixture
    val (pq, rpq, lsh) = compressed
    assert(ExactKNN.topK(corpus, "id", "vector", rows.head._2, 0).collect().isEmpty)
    for (k <- Seq(0, -1)) {
      val frames = Seq(
        ExactKNN.topKBatch(corpus, "id", "vector", queries, "qid", "qv", k),
        sq.searchBatch(queries, "qid", "qv", k),
        sq.searchBatchCosine(queries, "qid", "qv", k),
        ivf.searchBatch(queries, "qid", "qv", k, nprobe = 2),
        pq.searchBatch(queries, "qid", "qv", k),
        rpq.searchBatch(queries, "qid", "qv", k, nprobe = 2),
        lsh.searchBatch(queries, "qid", "qv", k, probeRadius = 1),
        text._2.scoreBatchTopK(text._3, k))
      frames.foreach { df =>
        assert(df.columns.toSeq == Seq("qid", "id", "score"))
        assert(df.collect().isEmpty, s"k=$k")
      }
    }
  }

  test("an empty query frame or an empty corpus gives an empty (qid, id, score) frame") {
    val (_, corpus, sq, ivf, queries) = fixture
    val (pq, rpq, lsh) = compressed
    val noQueries = queries.limit(0)
    val noRows = corpus.limit(0)
    val frames = Seq(
      ExactKNN.topKBatch(corpus, "id", "vector", noQueries, "qid", "qv", 5),
      sq.searchBatch(noQueries, "qid", "qv", 5),
      ivf.searchBatch(noQueries, "qid", "qv", 5, nprobe = 2),
      pq.searchBatch(noQueries, "qid", "qv", 5),
      rpq.searchBatch(noQueries, "qid", "qv", 5, nprobe = 2),
      lsh.searchBatch(noQueries, "qid", "qv", 5, exact = true),
      ExactKNN.topKBatch(noRows, "id", "vector", queries, "qid", "qv", 5),
      SQIndex.build(noRows, "id", "vector").searchBatch(queries, "qid", "qv", 5))
    frames.foreach { df =>
      assert(df.columns.toSeq == Seq("qid", "id", "score"))
      assert(df.collect().isEmpty)
    }
  }
}

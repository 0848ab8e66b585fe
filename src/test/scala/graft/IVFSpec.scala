package graft

import graft.vector.{ExactKNN, IVFIndex}
import org.scalatest.funsuite.AnyFunSuite

/** Recall pins for the approximate path (SURVEY §5.2-3): the reference never
  * asserts ANN result contents, only set-level properties; we pin recall@k
  * against the exact scan on the driver-generated embeddings table. */
class IVFSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  private lazy val emb = spark.read.parquet(s"$dir/embeddings.parquet").cache()
  private lazy val index = IVFIndex.build(emb, "vec_id", "embedding", nlist = 16)

  private def queryVec(id: Long): Array[Double] =
    emb.where(emb("vec_id") === id).select("embedding")
      .head().getSeq[Float](0).map(_.toDouble).toArray

  test("full probe (nprobe = nlist) equals exact search") {
    val q = queryVec(11)
    val exact = ExactKNN.topK(emb, "vec_id", "embedding", q, 10).collect().map(_.getLong(0))
    val full = index.search(q, 10, nprobe = 16).collect().map(_.getLong(0))
    assert(full.sameElements(exact))
  }

  test("searchBatch: one distributed plan equals the exact batch scan at nprobe = nlist") {
    import org.apache.spark.sql.functions.col
    val queries = emb.where(col("vec_id").isin(3L, 17L, 42L))
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    val exact = BruteForceKnn.topK(BruteForceKnn.rows(emb, "vec_id", "embedding"),
        BruteForceKnn.rows(queries, "qid", "qv"), 5, BruteForceKnn.L2Sq)
      .map { case (q, id, _) => (q, id) }
    val viaIvf = index.searchBatch(queries, "qid", "qv", k = 5, nprobe = index.nlist)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(viaIvf == exact)
  }

  test("searchBatch: narrow probe keeps per-query results inside the probed clusters") {
    import org.apache.spark.sql.functions.col
    val queries = emb.where(col("vec_id").isin(5L, 9L))
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    val got = index.searchBatch(queries, "qid", "qv", k = 5, nprobe = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val byQid = got.groupBy(_._1)
    for ((qid, rows) <- byQid) {
      val probed = index.probeOrder(queryVec(qid)).take(2).toSet
      val clusters = index.assignments
        .where(col("id").isin(rows.map(r => Long.box(r._2)): _*))
        .select(col("id"), col("cluster")).collect()
        .map(r => r.getLong(0) -> r.getInt(1)).toMap
      assert(rows.forall { case (_, id) => probed.contains(clusters(id)) },
        s"qid $qid returned an id outside its probed clusters")
    }
  }

  test("knnGraph: full probe equals brute force per node; never contains self") {
    import org.apache.spark.sql.functions.col
    val g = index.knnGraph(emb, "vec_id", "embedding", k = 3, nprobe = index.nlist)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(g.forall { case (q, n) => q != n }, "graph contains a self-edge")
    val byQ = g.groupBy(_._1)
    assert(byQ.values.forall(_.length == 3))
    // spot-check three nodes against the exact scan (self excluded)
    for (qid <- Seq(0L, 41L, 137L)) {
      val want = ExactKNN.topK(emb.where(col("vec_id") =!= qid),
          "vec_id", "embedding", queryVec(qid), 3)
        .collect().map(_.getLong(0)).toSeq
      assert(byQ(qid).map(_._2).toSeq == want, s"node $qid")
    }
  }

  test("knnGraph narrow probe: candidates stay Σ probed-cluster mass, no cartesian (r5 VERDICT #5)") {
    import org.apache.spark.sql.functions.col
    val nodes = Some(col("vec_id") < 40)
    val g = index.knnGraph(emb, "vec_id", "embedding", k = 3, nprobe = 2,
      nodesFilter = nodes)
    // plan pin: the corpus-sized sides meet on a cluster EQUI-join — a
    // cartesian here would be the nodes × corpus blowup
    assert(!g.queryExecution.executedPlan.toString.contains("CartesianProduct"))
    // result pin: every edge's neighbor lies in its node's probed clusters,
    // so the re-ranked volume is the probed-cluster mass, not the corpus
    val got = g.collect().map(r => (r.getLong(0), r.getLong(1)))
    val clusters = index.assignments
      .select(col("id"), col("cluster")).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    for ((qid, rows) <- got.groupBy(_._1)) {
      val probed = index.probeOrder(queryVec(qid)).take(2).toSet
      assert(rows.forall { case (_, id) => probed.contains(clusters(id)) },
        s"node $qid has a neighbor outside its probed clusters")
    }
  }

  test("recall@10 >= 0.6 with nprobe=4 of 16, averaged over 10 queries") {
    val recalls = (0L until 10L).map { qid =>
      val q = queryVec(qid * 7)
      val exact = ExactKNN.topK(emb, "vec_id", "embedding", q, 10)
        .collect().map(_.getLong(0)).toSet
      val approx = index.search(q, 10, nprobe = 4).collect().map(_.getLong(0)).toSet
      (exact intersect approx).size / 10.0
    }
    val mean = recalls.sum / recalls.size
    assert(mean >= 0.6, s"mean recall@10 = $mean (per-query: $recalls)")
  }

  test("distributed Lloyd refinement never increases the quantization error") {
    import org.apache.spark.sql.functions.col
    // mean squared distance to the assigned centroid, computed driver-side
    // over the small test table (assignment itself uses the codegen expr)
    def msd(centers: Array[Array[Double]]): Double = {
      val rows = emb.select(col("embedding"),
          graft.expr.VectorExpr.nearestCentroid(col("embedding"), centers).as("c"))
        .collect()
      rows.map { r =>
        val v = r.getSeq[Float](0).map(_.toDouble).toArray
        val cen = centers(r.getInt(1))
        v.zip(cen).map { case (x, y) => (x - y) * (x - y) }.sum
      }.sum / rows.length
    }
    val sampleTrained = IVFIndex.build(emb, "vec_id", "embedding", nlist = 8)
      .centroids.map(_._2)
    val before = msd(sampleTrained)
    val refined = IVFIndex.refine(
      emb.select(col("embedding").cast("array<double>").as("__vd")), "__vd",
      sampleTrained, iters = 3)
    val after = msd(refined)
    assert(after <= before + 1e-9, s"refinement increased MSD: $before -> $after")
  }

  test("partition count: a probe touches fewer rows than the full scan") {
    val q = queryVec(3)
    val probed = index.probeOrder(q).take(4)
    val scanned = index.assignments
      .where(index.assignments("cluster").isin(probed.map(Integer.valueOf): _*)).count()
    assert(scanned < emb.count())
  }

  test("saltForHistogram: uniform resolves to 1, skewed to the skew ratio, capped at P (r13 VERDICT #8)") {
    // uniform with nlist >= P: hottest block == balanced share -> no salt
    assert(IVFIndex.saltForHistogram(Array.fill(64)(1000L), 32) == 1)
    // degenerate histograms never salt
    assert(IVFIndex.saltForHistogram(Array(5000L), 32) == 1)
    assert(IVFIndex.saltForHistogram(Array.empty[Long], 32) == 1)
    // one cell holding half the corpus dominates sum(|c|^2): ~P splits
    val half = Array(50000L) ++ Array.fill(49)(1000L + 20L) // ~100k rows
    val s = IVFIndex.saltForHistogram(half, 32)
    assert(s >= 24 && s <= 32, s"expected near-cap salt, got $s")
    // mild skew (hottest 4x the median of 64 cells over P=32) salts a little
    val mild = Array(4000L) ++ Array.fill(63)(1000L)
    val sm = IVFIndex.saltForHistogram(mild, 32)
    assert(sm >= 2 && sm <= 8, s"expected small salt, got $sm")
    // the cap: finer than parallelism never helps
    assert(IVFIndex.saltForHistogram(Array(1000000L, 1L), 8) <= 8)
  }

  test("autoSaltBuckets: derived once per index; salted auto path bit-identical to unsalted") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val s = index.autoSaltBuckets
    assert(s >= 1 && s <= spark.sparkContext.defaultParallelism)
    assert(index.autoSaltBuckets == s)
    // The salted auto path is knnGraph's join; its unsalted answer is the
    // brute force over the probed cells, compared bit for bit.
    // 8 cells 10 apart on the first axis; cell 0 holds 100 of the 170
    // rows, so its |c|^2 pair block dominates and the join must salt.
    // Half-integer jitter keeps coordinates exact in float and plants ties.
    val rnd = new scala.util.Random(3)
    val cents = Array.tabulate(8)(c => (c, Array(c * 10.0, 0.0, 0.0, 0.0)))
    val rows = (0 until 170).map { i =>
      val c = if (i < 100) 0 else 1 + (i - 100) % 7
      (i.toLong, c, Array.tabulate(4)(d => (if (d == 0) c * 10.0 else 0.0) + (rnd.nextInt(7) - 3) * 0.5))
    }
    val schema = StructType(Seq(StructField("id", LongType), StructField("vector", ArrayType(FloatType)),
      StructField("cluster", IntegerType)))
    val frame = spark.createDataFrame(spark.sparkContext.parallelize(rows.map { case (id, c, v) =>
      Row(id, v.map(_.toFloat).toSeq, c) }, 3), schema)
    val skewed = new IVFIndex(cents, frame, cents.length)
    assert(skewed.autoSaltBuckets > 1 &&
      skewed.autoSaltBuckets <= spark.sparkContext.defaultParallelism, skewed.autoSaltBuckets)
    val nprobe = 2
    def probed(q: Array[Double]): Set[Int] = cents.toSeq.map { case (c, cen) =>
      (q.indices.map(i => (q(i) - cen(i)) * (q(i) - cen(i))).foldLeft(0.0)(_ + _), c)
    }.sorted.take(nprobe).map(_._2).toSet
    val cell = rows.map { case (id, c, _) => id -> c }.toMap
    val vecs = rows.map { case (id, _, v) => (id, v) }
    val want = BruteForceKnn.topK(vecs, vecs, 3, BruteForceKnn.L2Sq,
      eligible = (qid, q, id) => qid != id && probed(q).contains(cell(id)))
    val got = BruteForceKnn.collect(
      skewed.knnGraph(frame, "id", "vector", k = 3, nprobe = nprobe))
    assert(BruteForceKnn.same(got, want), s"\n got: $got\nwant: $want")
  }

  test("open(): lazy on-disk probe does file-level partition pruning, same results as in-memory") {
    val dir = java.nio.file.Files.createTempDirectory("graft_ivf_open")
    try {
      // persist exactly what VectorDatabase.save writes for an ivf index
      IVFIndex.centroidsToDf(spark, index).write.mode("overwrite")
        .parquet(s"$dir/centroids")
      index.assignments.write.mode("overwrite").partitionBy("cluster")
        .parquet(s"$dir/assignments")
      val opened = IVFIndex.open(spark, dir.toString)
      assert(opened.nlist == index.nlist)
      val q = queryVec(7)
      val viaDisk = opened.search(q, k = 5, nprobe = 2)
      assert(index.nlist > 2)
      assert(SparkProbe.partitionsRead("assignments")(viaDisk.collect()) == Seq(2L),
        "the probe read unprobed cluster directories")
      val got = viaDisk.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      val want = index.search(q, k = 5, nprobe = 2)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(got == want)
    } finally graft.streaming.StreamingGates.rmrf(dir)
  }
}

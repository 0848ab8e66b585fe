package graft

import graft.vector.{ExactKNN, SQIndex}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** SQ8 scalar-quantized scan: the interval bound makes the pruned search
  * provably EXACT (SQIndex doc), so unlike IVF/LSH recall pins, every test
  * here asserts equality with the flat scan — plus the bound's validity and
  * that the pruning actually prunes. */
class SQIndexSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  private lazy val emb = spark.read.parquet(s"$dir/embeddings.parquet").cache()
  private lazy val index = SQIndex.build(emb, "vec_id", "embedding")

  private def queryVec(id: Long): Array[Double] =
    emb.where(emb("vec_id") === id).select("embedding")
      .head().getSeq[Float](0).map(_.toDouble).toArray

  test("bound-pruned search equals the exact flat scan (ids AND 4-dp scores)") {
    for (qid <- Seq(3L, 17L, 99L, 256L)) {
      val q = queryVec(qid)
      val exact = ExactKNN.topK(emb, "vec_id", "embedding", q, 10)
        .select(col("id"), round(col("score"), 4).as("score"))
        .orderBy(col("score").desc, col("id").asc)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      val sq = index.search(q, 10)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(sq == exact, s"qid=$qid")
    }
  }

  test("interval bound is valid: true distance within [dhat-B, dhat+B+S] on every row") {
    // Recompute the bound's pieces row-wise in the JVM from the codes the
    // index stored — an independent oracle for the expression-side math.
    val q = queryVec(42L)
    val rows = index.data.select(col("id"), col("vector"), col("code")).collect()
    val s = index.steps; val m = index.mins
    val slack = s.map(x => x * x / 4.0).sum
    rows.foreach { r =>
      val v = r.getSeq[Double](1).toArray
      val c = r.getSeq[Int](2).toArray
      val xhat = c.indices.map(i => m(i) + c(i) * s(i)).toArray
      val d = v.zip(q).map { case (a, b) => (a - b) * (a - b) }.sum
      val dhat = xhat.zip(q).map { case (a, b) => (a - b) * (a - b) }.sum
      val bb = xhat.zip(q).zipWithIndex.map { case ((a, b), i) => s(i) * math.abs(a - b) }.sum
      assert(d >= dhat - bb - 1e-9 && d <= dhat + bb + slack + 1e-9, s"id=${r.getLong(0)}")
    }
  }

  test("codes are bytes (0..255) and dequantization error is within step/2") {
    val rows = index.data.select(col("vector"), col("code")).collect()
    val s = index.steps; val m = index.mins
    rows.foreach { r =>
      val v = r.getSeq[Double](0).toArray
      val c = r.getSeq[Int](1).toArray
      c.indices.foreach { i =>
        assert(c(i) >= 0 && c(i) <= 255)
        val err = math.abs(m(i) + c(i) * s(i) - v(i))
        assert(err <= s(i) / 2.0 + 1e-12, s"dim=$i err=$err step=${s(i)}")
      }
    }
  }

  test("cosine arm: bound-pruned searchCosine equals the exact cosine scan") {
    for (qid <- Seq(3L, 42L, 99L)) {
      val q = queryVec(qid)
      val exact = ExactKNN.topK(emb, "vec_id", "embedding", q, 10, ExactKNN.Cosine)
        .select(col("id"), round(col("score"), 4).as("score"))
        .orderBy(col("score").desc, col("id").asc)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      val sq = index.searchCosine(q, 10)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(sq == exact, s"qid=$qid")
    }
  }

  test("cosine dot bound is valid and the cosine pruning prunes") {
    // |x̂·q − x·q| ≤ Σ s_i|q_i|/2 row-wise, recomputed in the JVM
    val q = queryVec(42L)
    val s = index.steps; val m = index.mins
    val bSlack = s.zip(q).map { case (si, qi) => si * math.abs(qi) / 2.0 }.sum
    index.data.select(col("vector"), col("code")).collect().foreach { r =>
      val v = r.getSeq[Double](0).toArray
      val c = r.getSeq[Int](1).toArray
      val xhat = c.indices.map(i => m(i) + c(i) * s(i)).toArray
      val dot = v.zip(q).map { case (a, b) => a * b }.sum
      val dhat = xhat.zip(q).map { case (a, b) => a * b }.sum
      assert(math.abs(dhat - dot) <= bSlack + 1e-9)
    }
    val cand = index.candidateCountCosine(q, 10)
    val n = emb.count()
    assert(cand >= 10 && cand < n, s"cosine candidates $cand of $n — no pruning")
  }

  test("searchBatchCosine: bound-pruned batch equals the exact cosine batch scan") {
    val queries = emb.where(col("vec_id").isin(11L, 42L, 99L))
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    val exact = BruteForceKnn.topK(BruteForceKnn.rows(emb, "vec_id", "embedding"),
      BruteForceKnn.rows(queries, "qid", "qv"), 5, BruteForceKnn.Cosine, round = true)
    val sq = BruteForceKnn.collect(index.searchBatchCosine(queries, "qid", "qv", k = 5))
    assert(BruteForceKnn.same(sq, exact), s"$sq\n$exact")
  }

  test("searchBatch: bound-pruned batch equals the exact batch scan") {
    val queries = emb.where(col("vec_id").isin(5L, 77L, 300L))
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    val exact = BruteForceKnn.topK(BruteForceKnn.rows(emb, "vec_id", "embedding"),
      BruteForceKnn.rows(queries, "qid", "qv"), 5, BruteForceKnn.L2Sq, round = true)
    val sq = BruteForceKnn.collect(index.searchBatch(queries, "qid", "qv", k = 5))
    assert(BruteForceKnn.same(sq, exact), s"$sq\n$exact")
  }

  test("save/load roundtrip: loaded index returns identical results, quantizer intact") {
    val tmp = java.nio.file.Files.createTempDirectory("sqspec")
    try {
      index.save(tmp.toString)
      val loaded = SQIndex.load(spark, tmp.toString)
      assert(loaded.mins.sameElements(index.mins) && loaded.steps.sameElements(index.steps))
      val q = queryVec(123L)
      val a = index.search(q, 10).collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      val b = loaded.search(q, 10).collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(a == b)
    } finally graft.streaming.StreamingGates.rmrf(tmp)
  }

  test("property: pruned search == flat scan over random corpora (dims, magnitudes, duplicates)") {
    import org.scalacheck.Gen
    import spark.implicits._
    // magnitudes spanning 1e-3..1e3 plus exact duplicates (step-0 dims,
    // tied distances) — the regimes where a quantization bound or the
    // rounded-tie slack would first crack
    val rnd = new scala.util.Random(0x5EED)
    for (trial <- 1 to 4) {
      val dim = Seq(3, 8, 16, 33)(trial - 1)
      val n = 60 + trial * 40
      val scale = Seq(1e-3, 1.0, 1e3, 50.0)(trial - 1)
      val base = Array.fill(n)(Array.fill(dim)((rnd.nextDouble() * 2 - 1) * scale))
      // inject duplicates and a constant dimension
      base(1) = base(0).clone(); base(n - 1) = base(n / 2).clone()
      base.foreach(v => v(dim - 1) = 7.5 * scale)
      val df = base.zipWithIndex.toSeq.map { case (v, i) => (i.toLong, v.toSeq) }
        .toDF("vec_id", "embedding")
      val idx = SQIndex.build(df, "vec_id", "embedding")
      try {
        for (qi <- Seq(0, n / 3, n - 1)) {
          val q = base(qi)
          // reference with the ORACLE's tie semantics: order by ROUNDED
          // score then id BEFORE the cut (tiny scales round many rows to
          // score 1.0, where an unrounded-order top-k would legally pick
          // a different tie-set than the SQL oracle — see SQIndex doc)
          val exact = df.select(col("vec_id").as("id"),
              round(graft.functions.VectorFunctions.distToScore(
                graft.functions.VectorFunctions.squaredL2(
                  col("embedding"), graft.functions.VectorFunctions.vecLit(q))), 4).as("score"))
            .orderBy(col("score").desc, col("id").asc).limit(7)
            .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
          val sq = idx.search(q, 7)
            .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
          assert(sq == exact, s"trial=$trial dim=$dim scale=$scale qi=$qi")
        }
      } finally idx.dispose()
    }
  }

  test("empty index: search and candidateCount return empty, never NPE") {
    import spark.implicits._
    val empty = SQIndex.build(
      Seq.empty[(Long, Seq[Double])].toDF("vec_id", "embedding"), "vec_id", "embedding")
    try {
      assert(empty.search(Array(1.0, 2.0), 5).collect().isEmpty)
      assert(empty.candidateCount(Array(1.0, 2.0), 5) == 0L)
    } finally empty.dispose()
  }

  test("IVF composition: full probe exact; partial probe is a real restriction with recall >= 0.5") {
    import graft.vector.IVFIndex
    val ivf = IVFIndex.build(emb, "vec_id", "embedding", nlist = 8)
    val sq = SQIndex.build(ivf.assignments, "id", "vector", keep = Seq("cluster"))
    try {
      val q = queryVec(42L)
      val ranked = ivf.centroids.sortBy { case (_, c) =>
        c.zip(q).map { case (a, b) => (a - b) * (a - b) }.sum }.map(_._1)
      val exact = ExactKNN.topK(emb, "vec_id", "embedding", q, 10)
        .collect().map(_.getLong(0)).toSet
      // nprobe = nlist covers everything -> globally exact
      val full = sq.search(q, 10, restrict = Some(col("cluster").isin(ranked: _*)))
        .collect().map(_.getLong(0)).toSet
      assert(full == exact)
      // nprobe = 2: a genuine restriction (fewer candidates than the
      // corpus), still decent recall on the nearest clusters
      val probe2 = ranked.take(2)
      val part = sq.search(q, 10, restrict = Some(col("cluster").isin(probe2: _*)))
        .collect().map(_.getLong(0)).toSet
      val recall = (part & exact).size / 10.0
      assert(recall >= 0.5, s"recall=$recall")
    } finally { sq.dispose(); ivf.dispose() }
  }

  test("the bound prunes: candidate set is a small fraction of the corpus") {
    val n = emb.count()
    val cand = index.candidateCount(queryVec(7L), k = 10)
    assert(cand >= 10, "superset must cover k")
    assert(cand < n / 2, s"pruning ineffective: $cand of $n")
  }
}

package graft

import graft.vector.{ExactKNN, IVFIndex, PQIndex, ResidualPQ}
import org.apache.spark.sql.functions.{avg, col, lit, pow, round}
import org.scalatest.funsuite.AnyFunSuite

/** Residual-PQ pins (round 10): exactness by the row-error proof, bound
  * validity recomputed in the JVM, and the measured point of residual
  * encoding — less quantization error than raw PQ at the same byte cost
  * wherever the coarse quantizer captures structure. */
class ResidualPQSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  private lazy val emb = spark.read.parquet(s"$dir/embeddings.parquet").cache()
  private lazy val ivf = IVFIndex.build(emb, "vec_id", "embedding", nlist = 8)
  private lazy val rpq = ResidualPQ.build(ivf, dim = 64, m = 16)

  private def queryVec(id: Long): Array[Double] =
    emb.where(col("vec_id") === id).select("embedding")
      .head().getSeq[Float](0).map(_.toDouble).toArray

  test("searchExact equals the flat scan — exact for residual codes by the same proof") {
    for (qid <- Seq(7L, 29L, 99L)) {
      val q = queryVec(qid)
      val exact = ExactKNN.topK(emb, "vec_id", "embedding", q, 10)
        .select(col("id"), round(col("score"), 4).as("score"))
        .collect().map(r => (r.getLong(0), r.getDouble(1)))
      val got = rpq.searchExact(q, 10, emb, "vec_id", "embedding")
        .collect().map(r => (r.getLong(0), r.getDouble(1)))
      assert(got.sameElements(exact), s"qid=$qid: ${got.toSeq} != ${exact.toSeq}")
    }
    assert(rpq.exactCandidateCount(queryVec(29), 10) <= emb.count())
  }

  test("bound validity, JVM-recomputed: sqrt(dhat) +/- err brackets the true distance row-wise") {
    val q = queryVec(29)
    val centers = rpq.centroids.toMap
    val subDim = 64 / rpq.m
    val vecs = emb.select(col("vec_id").cast("long"),
        col("embedding").cast("array<double>"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    rpq.codes.collect().foreach { r =>
      val (id, cluster) = (r.getLong(0), r.getInt(1))
      val cs = r.getSeq[Int](2)
      val err = r.getDouble(3)
      val x = vecs(id)
      val cen = centers(cluster)
      // reconstruction = centroid + concatenated codebook centroids
      val recon = Array.tabulate(64)(i =>
        cen(i) + rpq.codebooks(i / subDim)(cs(i / subDim))(i % subDim))
      var d = 0.0; var dhat = 0.0; var e2 = 0.0
      (0 until 64).foreach { i =>
        val t = x(i) - q(i); d += t * t
        val u = q(i) - recon(i); dhat += u * u
        val w = x(i) - recon(i); e2 += w * w
      }
      assert(math.abs(math.sqrt(e2) - err) < 1e-9, s"id=$id stored err drifted")
      val ad = math.sqrt(dhat)
      val lo = math.pow(math.max(0.0, ad - err), 2)
      val hi = math.pow(ad + err, 2)
      assert(lo <= d + 1e-9 && d <= hi + 1e-9,
        s"id=$id bound violated: lo=$lo d=$d hi=$hi")
    }
  }

  test("residual encoding beats raw PQ error where coarse structure exists (the IVFPQ point)") {
    import spark.implicits._
    // 20 Gaussian clusters, sigma 0.05 — the structure real embedding
    // spaces have; nlist matches the generative cluster count
    val rnd = new scala.util.Random(11)
    val centersArr = Array.fill(20, 64)(rnd.nextDouble())
    val rows = (0 until 1000).map { i =>
      val c = centersArr(i % 20)
      (i.toLong, c.map(x => x + 0.05 * rnd.nextGaussian()).toSeq)
    }
    val data = rows.toDF("vec_id", "embedding").cache()
    data.count()
    val civf = IVFIndex.build(data, "vec_id", "embedding", nlist = 20)
    val res = ResidualPQ.build(civf, dim = 64, m = 16)
    val raw = PQIndex.build(data, "vec_id", "embedding", dim = 64, m = 16)
    val rawErr2 = raw.codes.agg(avg(pow(col("err"), lit(2.0)))).head().getDouble(0)
    val resErr2 = res.meanErr2
    assert(resErr2 < 0.5 * rawErr2,
      s"residual err2 $resErr2 not well below raw $rawErr2")
    // and the exact rung stays exact on the clustered corpus too
    val q = rows(123)._2.toArray
    val exact = ExactKNN.topK(data, "vec_id", "embedding", q, 5)
      .collect().map(_.getLong(0))
    val got = res.searchExact(q, 5, data, "vec_id", "embedding")
      .collect().map(_.getLong(0))
    assert(got.sameElements(exact))
    // with structure, the residual bound PRUNES (the uniform corpus
    // bound-overlaps — the documented data property)
    val cand = res.exactCandidateCount(q, 5)
    assert(cand < 1000, s"no pruning on clustered data: $cand")
    res.dispose(); raw.dispose(); civf.dispose(); data.unpersist()
  }

  /** One query through the residual ADC probe: its ids, best first. */
  private def probeIds(q: Array[Double], k: Int, nprobe: Int): Array[Long] =
    rpq.searchBatch(graft.plans.KnnTopK.block(spark, Seq((0L, q))), "qid", "qv", k, nprobe)
      .collect().map(_.getLong(1))

  test("search (coarse probe + residual ADC): recall >= 0.5 full-probe, probe-subset discipline") {
    // full probe: approximate only through quantization — PQSpec's bound
    val recalls = (0L until 10L).map { i =>
      val q = queryVec(i * 11)
      val exact = ExactKNN.topK(emb, "vec_id", "embedding", q, 10)
        .collect().map(_.getLong(0)).toSet
      val approx = probeIds(q, 10, nprobe = 8).toSet
      (exact intersect approx).size / 10.0
    }
    val mean = recalls.sum / recalls.size
    assert(mean >= 0.5, s"mean residual-ADC recall@10 = $mean (per-query: $recalls)")
    // partial probe returns only rows from the probed clusters, and the
    // query's own vector still ranks first (self-distance = its own
    // quantization error, minimal by construction)
    val q = queryVec(42)
    val got = probeIds(q, 3, nprobe = 2)
    assert(got.head == 42L, s"self not first: ${got.toSeq}")
    val probedRows = probeIds(q, 2000, nprobe = 2).toSet
    val clusterOf = rpq.codes.select(col("id"), col("cluster"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val probedClusters = probedRows.map(clusterOf)
    assert(probedClusters.size <= 2, s"rows from ${probedClusters.size} clusters at nprobe=2")
  }

  test("searchBatch == per-query search at the same nprobe; full-probe recall bound holds") {
    // both shapes against the driver-side brute-force ADC over each
    // query's probed cells: the batch, and each query as a block of one
    val qids = Seq(7L, 29L, 99L)
    val queries = emb.where(col("vec_id").isin(qids.map(Long.box): _*))
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    val codes = BruteForceKnn.adcRows(rpq.codes)
    val cell = codes.map { case (id, x) => id -> x(0).toInt }.toMap
    def probe(q: Array[Double], nprobe: Int): Set[Int] =
      graft.expr.VecKernels.nearestClusters(q, rpq.centroids, nprobe).toSet
    for (np <- Seq(2, 8)) {
      val want = BruteForceKnn.topK(codes, BruteForceKnn.rows(queries, "qid", "qv"), 5,
        BruteForceKnn.Adc(rpq.codebooks, rpq.centroids.toMap),
        eligible = (_, q, id) => probe(q, np).contains(cell(id)))
      val batch = BruteForceKnn.collect(rpq.searchBatch(queries, "qid", "qv", k = 5, nprobe = np))
      assert(BruteForceKnn.same(batch, want), s"nprobe=$np\n got: $batch\nwant: $want")
      for (qid <- qids) {
        val single = BruteForceKnn.collect(rpq.searchBatch(
          graft.plans.KnnTopK.block(spark, Seq((qid, queryVec(qid)))), "qid", "qv", k = 5, nprobe = np))
        assert(BruteForceKnn.same(single, want.filter(_._1 == qid)), s"nprobe=$np qid=$qid: $single")
      }
    }
    val recalls = qids.map { qid =>
      val exact = ExactKNN.topK(emb, "vec_id", "embedding", queryVec(qid), 5)
        .collect().map(_.getLong(0)).toSet
      val got = rpq.searchBatch(queries.where(col("qid") === qid), "qid", "qv",
        k = 5, nprobe = 8).collect().map(_.getLong(1)).toSet
      (exact intersect got).size / 5.0
    }
    assert(recalls.sum / recalls.size >= 0.5, s"batch recall too low: $recalls")
  }

  test("searchBatch: duplicate qids fail loudly instead of a nondeterministic pick") {
    import org.apache.spark.sql.functions.col
    // two DIFFERENT vectors under one qid — the round-12 dropDuplicates
    // collapsed this to an arbitrary winner; the in-plan assert names it
    val dup = emb.where(col("vec_id").isin(Seq(7L, 29L).map(Long.box): _*))
      .select(org.apache.spark.sql.functions.lit(1L).as("qid"),
        col("embedding").as("qv"))
    val e = intercept[Exception](
      rpq.searchBatch(dup, "qid", "qv", k = 3, nprobe = 2).collect())
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else String.valueOf(t.getMessage) +: msgs(t.getCause)
    assert(msgs(e).exists(_.contains("duplicate qid")),
      s"expected the named assert, got: ${msgs(e)}")
  }

  test("searchBatch: a bad code or a missing coarse quantizer fails with a named error") {
    import org.apache.spark.sql.functions.{array, when}
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else String.valueOf(t.getMessage) +: msgs(t.getCause)
    val queries = emb.where(col("vec_id") === 7L)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    // row 42's last code points one past its codebook: unchecked, the
    // lookup would read the next cell's table and score it silently
    val book = rpq.codebooks.last.length
    val corrupt = rpq.codes.withColumn("codes", when(col("id") === 42L,
      array((Seq.fill(rpq.m - 1)(lit(0)) :+ lit(book)): _*)).otherwise(col("codes")))
    val bad = new ResidualPQ(corrupt, rpq.centroids, rpq.codebooks, rpq.dim)
    // probe every cell so row 42 is scored
    val e = intercept[Exception](
      bad.searchBatch(queries, "qid", "qv", k = 3, nprobe = rpq.centroids.length).collect())
    assert(msgs(e).exists(_.contains(s"ResidualPQ codes row 42 has code $book outside the trained codebooks")),
      s"expected the named error, got: ${msgs(e)}")
    val noCoarse = new ResidualPQ(rpq.codes, Array.empty, rpq.codebooks, rpq.dim)
    val e2 = intercept[IllegalArgumentException](noCoarse.searchBatch(queries, "qid", "qv", k = 3))
    assert(e2.getMessage.contains("ResidualPQ has no coarse centroids"), e2.getMessage)
  }

  test("append: trained quantizer + codebooks reused (object identity), exact over the union") {
    val cut = 150L
    val head = emb.where(col("vec_id") < cut)
    val tail = emb.where(col("vec_id") >= cut)
    val hivf = IVFIndex.build(head, "vec_id", "embedding", nlist = 8)
    val built = ResidualPQ.build(hivf, dim = 64, m = 16)
    val appended = built.append(tail, "vec_id", "embedding")
    // r10 VERDICT #2: add() must ENCODE, never retrain — same objects
    assert(appended.codebooks.eq(built.codebooks),
      "append retrained the residual codebooks — incremental maintenance must reuse them")
    assert(appended.centroids.eq(built.centroids),
      "append replaced the coarse centroids — the trained quantizer must stay fixed")
    assert(appended.codes.count() == emb.count())
    // appended rows carry a valid row bound: exact over the UNIONED corpus
    for (qid <- Seq(7L, 170L)) {
      val q = queryVec(qid)
      val exact = ExactKNN.topK(emb, "vec_id", "embedding", q, 10)
        .select(col("id"), round(col("score"), 4).as("score"))
        .collect().map(r => (r.getLong(0), r.getDouble(1)))
      val got = appended.searchExact(q, 10, emb, "vec_id", "embedding")
        .collect().map(r => (r.getLong(0), r.getDouble(1)))
      assert(got.sameElements(exact), s"qid=$qid: ${got.toSeq} != ${exact.toSeq}")
    }
    // append assigns each batch row to its NEAREST trained centroid
    val centers = built.centroids
    val assigned = appended.codes.where(col("id") >= cut)
      .select(col("id"), col("cluster")).collect()
    val vecs = tail.select(col("vec_id").cast("long"),
        col("embedding").cast("array<double>"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    assigned.take(50).foreach { r =>
      val v = vecs(r.getLong(0))
      val best = centers.minBy { case (_, cen) =>
        var d = 0.0; var i = 0
        while (i < 64) { val x = v(i) - cen(i); d += x * x; i += 1 }
        d
      }._1
      assert(r.getInt(1) == best, s"id=${r.getLong(0)} not in nearest cluster")
    }
    appended.dispose(); hivf.dispose()
  }

  test("facade 'ivfpq' (residual) recall >= facade 'pq' (raw) at equal bytes on clustered data (r11 VERDICT #1)") {
    // The wiring criterion: a user asking for reference-fidelity ivfpq must
    // get the residual quantizer, and it must be at least as accurate as
    // raw PQ at the same byte budget (same pqCodeSize ⇒ same m codes/row)
    // wherever the coarse quantizer captures structure.
    import spark.implicits._
    val rnd = new scala.util.Random(17)
    val centersArr = Array.fill(16, 64)(rnd.nextDouble())
    val rows = (0 until 800).map { i =>
      val c = centersArr(i % 16)
      (i.toLong, s"clustered doc $i",
        c.map(x => (x + 0.08 * rnd.nextGaussian()).toFloat).toSeq)
    }
    val src = rows.toDF("rid", "text", "emb")
    def facade(tpe: String): VectorDatabase = {
      // efSearch 20 < 10 × ivfClusters keeps ivfpq on the ADC probe path
      // (nprobe = 16/10 = 1: the honest approximate setting)
      val db = VectorDatabase.create(spark, 64, tpe, ivfClusters = 16,
        pqCodeSize = 16, efSearch = 20)
      db.addBulk(src, "text", "emb", None, "rid")
      db
    }
    val resDb = facade("ivfpq")
    val rawDb = facade("pq")
    val flat = facade("flat")
    def recall(db: VectorDatabase, qid: Int): Double = {
      val q = rows(qid)._3.toArray
      val exact = flat.queryVector(q, 10).collect().map(_.getLong(0)).toSet
      val got = db.queryVector(q, 10).collect().map(_.getLong(0)).toSet
      (exact intersect got).size / 10.0
    }
    val qids = Seq(3, 97, 222, 341, 555, 760)
    val resRecall = qids.map(recall(resDb, _)).sum / qids.size
    val rawRecall = qids.map(recall(rawDb, _)).sum / qids.size
    assert(resRecall >= rawRecall,
      s"residual ivfpq recall $resRecall < raw pq $rawRecall at equal bytes")
    assert(resRecall >= 0.7,
      s"residual ivfpq recall $resRecall below floor on clustered data")
    resDb.close(); rawDb.close(); flat.close()
  }

  test("save -> load round-trips codes, codebooks and centroids; loaded search stays exact") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_rpq_spec")
    try {
      ResidualPQ.save(rpq, tmp.toString)
      val loaded = ResidualPQ.load(spark, tmp.toString)
      assert(loaded.dim == rpq.dim && loaded.m == rpq.m)
      assert(loaded.codebooks.length == rpq.codebooks.length &&
        loaded.codebooks.zip(rpq.codebooks).forall { case (a, b) =>
          a.length == b.length && a.zip(b).forall { case (x, y) => x.sameElements(y) } })
      assert(loaded.centroids.map(_._1).sameElements(rpq.centroids.map(_._1)) &&
        loaded.centroids.zip(rpq.centroids).forall { case ((_, a), (_, b)) => a.sameElements(b) })
      assert(loaded.codes.count() == rpq.codes.count())
      val q = queryVec(29L)
      val exact = ExactKNN.topK(emb, "vec_id", "embedding", q, 10)
        .select(col("id"), round(col("score"), 4).as("score"))
        .collect().map(r => (r.getLong(0), r.getDouble(1)))
      val got = loaded.searchExact(q, 10, emb, "vec_id", "embedding")
        .collect().map(r => (r.getLong(0), r.getDouble(1)))
      assert(got.sameElements(exact))
      loaded.dispose()
    } finally graft.streaming.StreamingGates.rmrf(tmp)
  }
}

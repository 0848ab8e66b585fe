package graft

import graft.vector.{ExactKNN, PQIndex}
import org.scalatest.funsuite.AnyFunSuite

/** PQ/ADC recall pins — like the reference, approximate indexes are judged
  * on behavior (recall vs exact), never on fixed result contents. */
class PQSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  private lazy val emb = spark.read.parquet(s"$dir/embeddings.parquet").cache()
  private lazy val pq = PQIndex.build(emb, "vec_id", "embedding", dim = 64, m = 16)

  private def queryVec(id: Long): Array[Double] =
    emb.where(emb("vec_id") === id).select("embedding")
      .head().getSeq[Float](0).map(_.toDouble).toArray

  test("codes are m bytes per vector, all within codebook range") {
    val rows = pq.codes.collect()
    assert(rows.length == emb.count())
    rows.foreach { r =>
      val cs = r.getSeq[Int](1)
      assert(cs.length == 16 && cs.forall(c => c >= 0 && c < 256))
    }
  }

  test("ADC recall@10 >= 0.5 vs exact, averaged over 10 queries") {
    val recalls = (0L until 10L).map { i =>
      val q = queryVec(i * 11)
      val exact = ExactKNN.topK(emb, "vec_id", "embedding", q, 10)
        .collect().map(_.getLong(0)).toSet
      val approx = pq.search(q, 10).collect().map(_.getLong(0)).toSet
      (exact intersect approx).size / 10.0
    }
    val mean = recalls.sum / recalls.size
    assert(mean >= 0.5, s"mean ADC recall@10 = $mean (per-query: $recalls)")
  }

  test("the query's own vector ranks first under ADC") {
    // self-distance in ADC is the quantization error — smallest by a margin
    val r = pq.search(queryVec(42), 3).collect()
    assert(r.head.getLong(0) == 42L)
  }

  test("searchExact: interval-bound rerank equals the flat scan; bounds valid; pruning prunes (r9 VERDICT #7)") {
    import org.apache.spark.sql.functions.{col, round}
    val radii = pq.cellRadii(emb, "vec_id", "embedding")
    // (1) bound VALIDITY, JVM-recomputed row-wise (the SQIndexSpec
    // discipline): for every row, dLo <= true d <= dHi
    val vecs = emb.select(col("vec_id").cast("long").as("id"),
        col("embedding").cast("array<double>").as("v"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    val codesMap = pq.codes.collect()
      .map(r => r.getLong(0) -> r.getSeq[Int](1).toArray).toMap
    val q = queryVec(23)
    val tables = pq.adcTables(q)
    val subDim = 64 / pq.m
    codesMap.foreach { case (id, cs) =>
      val x = vecs(id)
      var d = 0.0; var lo = 0.0; var hi = 0.0
      var e2 = 0.0
      (0 until pq.m).foreach { s =>
        var ds = 0.0; var es = 0.0
        val cen = pq.codebooks(s)(cs(s))
        (0 until subDim).foreach { i =>
          val t = x(s * subDim + i) - q(s * subDim + i); ds += t * t
          val u = x(s * subDim + i) - cen(i); es += u * u
        }
        d += ds; e2 += es
        val a = math.sqrt(tables(s)(cs(s)))
        val r = radii.values(s)(cs(s))
        val l = math.max(0.0, a - r); lo += l * l
        val h = a + r; hi += h * h
      }
      // the intersected bound searchExact actually uses: per-subspace
      // cell-radius bracket ∩ row-specific whole-vector bracket
      val e = math.sqrt(e2)
      val adc = math.sqrt((0 until pq.m).map(s => tables(s)(cs(s))).sum)
      val loR = math.pow(math.max(0.0, adc - e), 2)
      val hiR = math.pow(adc + e, 2)
      val loB = math.max(lo, loR); val hiB = math.min(hi, hiR)
      assert(loB <= d + 1e-9 && d <= hiB + 1e-9,
        s"id=$id bound violated: lo=$loB d=$d hi=$hiB (table $lo..$hi, row $loR..$hiR)")
    }
    // (2) exactness: ids and 4-dp scores equal the flat scan, trained AND
    // anchor codebooks (exact for ANY codebook — quality only moves the
    // candidate count)
    val anchorPq = PQIndex.buildFromAnchors(emb, "vec_id", "embedding",
      dim = 64, m = 8, anchorFilter = col("vec_id") < 16)
    val anchorRadii = anchorPq.cellRadii(emb, "vec_id", "embedding")
    for ((idx, rad) <- Seq((pq, radii), (anchorPq, anchorRadii)); qid <- Seq(23L, 99L)) {
      val qv = queryVec(qid)
      val exact = ExactKNN.topK(emb, "vec_id", "embedding", qv, 10)
        .select(col("id"), round(col("score"), 4).as("score"))
        .collect().map(r => (r.getLong(0), r.getDouble(1)))
      val got = idx.searchExact(qv, 10, emb, "vec_id", "embedding", Some(rad))
        .collect().map(r => (r.getLong(0), r.getDouble(1)))
      assert(got.sameElements(exact), s"qid=$qid: $got != exact ${exact.toSeq}")
    }
    // (3) the bound actually prunes: the rerank touches < the corpus
    val n = emb.count()
    val cand = pq.exactCandidateCount(q, 10, Some(radii))
    assert(cand < n, s"pass-1 survivors $cand == corpus $n — no pruning")
  }

  test("searchExact after append: the row-error bound (radii = None) stays exact (round-10 review)") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    // append vectors far from any trained centroid — exactly the rows a
    // STALE cell-radius table could wrongly prune (its maxes predate them)
    val far = (9000L until 9005L).map(i =>
      i -> Seq.tabulate(64)(j => 10.0 + (i % 7) + j * 0.01))
    val appended = pq.append(far.toDF("vec_id", "embedding"), "vec_id", "embedding")
    val all = emb.select(col("vec_id").cast("long").as("vec_id"),
        col("embedding").cast("array<double>").as("embedding"))
      .unionByName(far.toDF("vec_id", "embedding"))
    // query NEAR the appended cluster: its true top-k is dominated by the
    // appended rows, so under-estimating their bounds would drop them
    val q = Array.tabulate(64)(j => 10.0 + j * 0.01)
    val exact = ExactKNN.topK(all, "vec_id", "embedding", q, 5)
      .collect().map(_.getLong(0))
    val got = appended.searchExact(q, 5, all, "vec_id", "embedding")
      .collect().map(_.getLong(0))
    assert(got.sameElements(exact), s"${got.toSeq} != ${exact.toSeq}")
    assert(got.forall(_ >= 9000L)) // the appended rows ARE the answer
    // STALE radii from the pre-append index must be IGNORED, not applied:
    // their cell maxes predate the far rows, so honoring them would prune
    // the true answers — the generation stamp guards this (round-10 ADVICE)
    val stale = pq.cellRadii(emb, "vec_id", "embedding")
    assert(stale.generation != appended.generation)
    val gotStale = appended.searchExact(q, 5, all, "vec_id", "embedding", Some(stale))
      .collect().map(_.getLong(0))
    assert(gotStale.sameElements(exact),
      s"stale radii were not ignored: ${gotStale.toSeq} != ${exact.toSeq}")
    // the stamp is a NONCE, not a lineage counter (round-11 review): two
    // sibling appends of the same parent must NOT share a generation — a
    // counter gives both gen 1, letting sibling-A radii wrongly prune
    // sibling-B rows; same for load (counter-era generation was always 0)
    val sibling = pq.append(
      Seq((9100L, Seq.tabulate(64)(_ * 0.5))).toDF("vec_id", "embedding"),
      "vec_id", "embedding")
    assert(sibling.generation != appended.generation &&
      sibling.generation != pq.generation)
    sibling.dispose()
    appended.dispose()
  }

  test("a loaded index ACCEPTS its own radii and still prunes (nonce positive case, round 11)") {
    import org.apache.spark.sql.functions.col
    // the nonce must reject foreign radii WITHOUT over-rejecting the
    // legitimate use: radii computed on the loaded instance are fresh
    // for that instance, sharpen its bound, and keep it exact
    val path = java.nio.file.Files.createTempDirectory("graftpqnonce").toString
    try {
      PQIndex.save(pq, path)
      val loaded = PQIndex.load(spark, path)
      assert(loaded.generation != pq.generation) // distinct codes frames
      val own = loaded.cellRadii(emb, "vec_id", "embedding")
      val q = queryVec(23)
      val withOwn = loaded.exactCandidateCount(q, 10, Some(own))
      val errOnly = loaded.exactCandidateCount(q, 10, None)
      val foreign = loaded.exactCandidateCount(q, 10,
        Some(pq.cellRadii(emb, "vec_id", "embedding")))
      assert(withOwn <= errOnly, s"own radii loosened the bound: $withOwn > $errOnly")
      assert(foreign == errOnly, s"foreign radii were not ignored: $foreign != $errOnly")
      val exact = ExactKNN.topK(emb, "vec_id", "embedding", q, 10)
        .select(col("id"), org.apache.spark.sql.functions.round(col("score"), 4).as("score"))
        .collect().map(r => (r.getLong(0), r.getDouble(1)))
      val got = loaded.searchExact(q, 10, emb, "vec_id", "embedding", Some(own))
        .collect().map(r => (r.getLong(0), r.getDouble(1)))
      assert(got.sameElements(exact))
      loaded.dispose()
    } finally graft.streaming.StreamingGates.rmrf(java.nio.file.Path.of(path))
  }

  test("load of a pre-err codes frame degrades the row bound to vacuous, stays exact (round-10 review)") {
    import org.apache.spark.sql.functions.col
    val path = java.nio.file.Files.createTempDirectory("graftpqold").toString
    PQIndex.save(pq, path)
    // simulate an old artifact: rewrite codes WITHOUT the err column
    val stripped = spark.read.parquet(s"$path/codes").drop("err")
    stripped.write.mode("overwrite").parquet(s"$path/codes2")
    val fs = new java.io.File(s"$path/codes")
    def rm(f: java.io.File): Unit = { if (f.isDirectory) f.listFiles.foreach(rm); f.delete() }
    rm(fs)
    new java.io.File(s"$path/codes2").renameTo(fs)
    val loaded = PQIndex.load(spark, path)
    assert(!spark.read.parquet(s"$path/codes").columns.contains("err"))
    val qv = queryVec(23)
    val exact = ExactKNN.topK(emb, "vec_id", "embedding", qv, 5)
      .collect().map(_.getLong(0))
    // radii alone carry the proof; the +inf err bound must not break it
    val rad = loaded.cellRadii(emb, "vec_id", "embedding")
    val got = loaded.searchExact(qv, 5, emb, "vec_id", "embedding", Some(rad))
      .collect().map(_.getLong(0))
    assert(got.sameElements(exact))
  }

  test("searchBatch: the distributed ADC join matches the per-query driver-table path") {
    // the per-query driver-table path is BruteForceKnn.Adc; the single-query
    // `search` is the batch path's block of one, so it answers the same
    import org.apache.spark.sql.functions.col
    val qids = Seq(5L, 42L, 99L)
    val queries = emb.where(col("vec_id").isin(qids.map(Long.box): _*))
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    val want = BruteForceKnn.topK(BruteForceKnn.adcRows(pq.codes),
      BruteForceKnn.rows(queries, "qid", "qv"), 4, BruteForceKnn.Adc(pq.codebooks, Map.empty))
    val batch = BruteForceKnn.collect(pq.searchBatch(queries, "qid", "qv", k = 4))
    assert(BruteForceKnn.same(batch, want), s"\n got: $batch\nwant: $want")
    for (qid <- qids) {
      val single = pq.search(queryVec(qid), 4).collect().toSeq
        .map(r => (qid, r.getLong(0), java.lang.Double.valueOf(r.getDouble(1))))
      assert(BruteForceKnn.same(single, want.filter(_._1 == qid)), s"qid $qid: $single")
    }
  }

  test("adc_lookup_sum: a code outside [0, kk) fails with the named error, interpreted and codegen") {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
    import org.apache.spark.sql.types.{ArrayType, DoubleType, IntegerType}
    // one subspace of kk = 4 entries: table values 1..4
    def sum(code: Int) = graft.expr.AdcLookupSum(Literal.create(Array(code), ArrayType(IntegerType)),
      Literal(0), Literal.create(Array(1.0, 2.0, 3.0, 4.0), ArrayType(DoubleType)), 1, 4)
    def interpreted(code: Int): Double = sum(code).eval(InternalRow.empty).asInstanceOf[Double]
    def generated(code: Int): Double =
      GenerateUnsafeProjection.generate(Seq(sum(code))).apply(InternalRow.empty).getDouble(0)
    for ((path, eval) <- Seq[(String, Int => Double)](("interpreted", interpreted), ("codegen", generated))) {
      assert(eval(2) == 3.0, path)
      for (code <- Seq(-2, 4)) {
        val e = intercept[IllegalArgumentException](eval(code))
        assert(e.getMessage.contains(s"adc_lookup_sum codes row has code $code outside the trained codebooks"),
          s"$path code=$code: ${e.getMessage}")
      }
    }
  }

  test("searchBatch: a code outside its codebook fails with a named error") {
    import org.apache.spark.sql.functions.{array, col, lit, when}
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else String.valueOf(t.getMessage) +: msgs(t.getCause)
    def failsNamed(what: String, id: Long, code: Int)(run: => Unit): Unit = {
      val e = intercept[Exception](run)
      assert(msgs(e).exists(_.contains(s"PQIndex codes row $id has code $code outside the trained codebooks")),
        s"$what: expected the named error, got: ${msgs(e)}")
    }
    def corrupt(codes: org.apache.spark.sql.DataFrame, id: Long, code: Int, m: Int) =
      codes.withColumn("codes", when(col("id") === id,
        array((lit(code) +: Seq.fill(m - 1)(lit(0))): _*)).otherwise(col("codes")))
    val queries = emb.where(col("vec_id") === 5L)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    // row 42's first code points one past its codebook (unchecked, the
    // lookup would read the next subspace's table and score it silently)
    // or at -2 (unchecked, an element_at lookup counts it from the end)
    val book = pq.codebooks.head.length
    for (code <- Seq(book, -2)) {
      val bad = new PQIndex(corrupt(pq.codes, 42L, code, pq.m), pq.codebooks, pq.dim)
      failsNamed(s"searchBatch code=$code", 42L, code)(
        bad.searchBatch(queries, "qid", "qv", k = 3).collect())
      failsNamed(s"search code=$code", 42L, code)(bad.search(queryVec(5), 3).collect())
    }
    // and through a pq collection's queryVector, over codes saved corrupt
    val rnd = new scala.util.Random(3)
    val vs = Seq.fill(40)(Array.fill(8)(rnd.nextFloat()))
    val db = VectorDatabase.create(spark, 8, "pq")
    db.add(vs.indices.map(i => s"doc $i"), vs, None)
    db.queryVector(vs(0), topK = 1).collect()
    val (m, dbBook) = db.indexIfBuilt match {
      case Some(graft.vector.AnnIndex.Pq(p)) => (p.m, p.codebooks.head.length)
      case other => fail(s"slot holds $other")
    }
    for (code <- Seq(dbBook, -2)) {
      val dir = java.nio.file.Files.createTempDirectory("graftpq_corrupt")
      try {
        db.save(dir.toString)
        val codesDir = dir.resolve("index/pq/codes")
        corrupt(spark.read.parquet(codesDir.toString), 7L, code, m)
          .write.parquet(dir.resolve("codes_bad").toString)
        graft.streaming.StreamingGates.rmrf(codesDir)
        java.nio.file.Files.move(dir.resolve("codes_bad"), codesDir)
        val loaded = VectorDatabase.load(spark, dir.toString)
        try failsNamed(s"queryVector code=$code", 7L, code)(loaded.queryVector(vs(3), topK = 3).collect())
        finally loaded.close()
      } finally graft.streaming.StreamingGates.rmrf(dir)
    }
    db.close()
  }

  test("anchor-codebook build: codes bounded by anchor count, deterministic") {
    import org.apache.spark.sql.functions.col
    val anchored = PQIndex.buildFromAnchors(emb, "vec_id", "embedding",
      dim = 64, m = 8, anchorFilter = col("vec_id") < 16)
    val rows = anchored.codes.collect()
    assert(rows.forall(_.getSeq[Int](1).forall(c => c >= 0 && c < 16)))
    val a = anchored.search(queryVec(7), 10).collect().map(_.getLong(0))
    val again = PQIndex.buildFromAnchors(emb, "vec_id", "embedding",
      dim = 64, m = 8, anchorFilter = col("vec_id") < 16)
      .search(queryVec(7), 10).collect().map(_.getLong(0))
    assert(a.sameElements(again))
  }

  test("search restricted to a candidate set never returns outside it") {
    import org.apache.spark.sql.functions.col
    val cand = emb.select(col("vec_id").as("id")).where(col("id") < 100)
    val r = pq.searchBatch(graft.plans.KnnTopK.block(spark, Seq((0L, queryVec(7)))), "qid", "qv", 10,
        graft.plans.KnnTopK.Restrict(ids = Some(cand)))
      .collect().map(_.getLong(1))
    assert(r.nonEmpty && r.forall(_ < 100))
  }

  test("save/load roundtrip preserves codebooks and ADC results") {
    val path = java.nio.file.Files.createTempDirectory("graftpq").toString
    PQIndex.save(pq, path)
    val loaded = PQIndex.load(spark, path)
    assert(loaded.dim == pq.dim && loaded.m == pq.m)
    val q = queryVec(13)
    val a = pq.search(q, 10).collect().map(r => (r.getLong(0), r.getDouble(1)))
    val b = loaded.search(q, 10).collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(a.sameElements(b))
  }
}

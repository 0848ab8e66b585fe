package graft

import graft.plans.KnnTopKMergeExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** 1:1 port of the reference's pytest contracts (test_local_db.py),
  * parametrized over the three index types (test:47 etc.), plus the
  * §2.5 fine-print pins. */
class VectorDatabaseSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {
  private lazy val spark = TestSpark.spark

  private val indexTypes = Seq("hnsw", "flat", "ivfpq", "pq")
  private val dim = 8
  private val rnd = new scala.util.Random(42)
  private def vec(): Array[Float] = Array.fill(dim)(rnd.nextFloat())

  // ≙ the reference fixtures: 5 docs, random vectors, heterogeneous metadata
  // (test_local_db.py:13–31)
  private val docs = Seq(
    "machine learning is a subset of artificial intelligence",
    "python is a popular programming language",
    "vector databases store high dimensional embeddings",
    "the quick brown fox jumps over the lazy dog",
    "deep learning uses neural networks with many layers")
  private val vecs = Seq.fill(5)(vec())
  private val metas = Seq(
    Map[String, Any]("priority" -> "high", "amount" -> 1250.75, "deadline" -> "2025-06-01"),
    Map[String, Any]("priority" -> "low", "amount" -> 99.5),
    Map[String, Any]("priority" -> "high", "amount" -> 500.0),
    Map[String, Any]("category" -> "animals"),
    Map[String, Any]("priority" -> "medium", "amount" -> 1250.75))

  private def freshDb(indexType: String): VectorDatabase = {
    val db = VectorDatabase.create(spark, dim, indexType)
    db.add(docs, vecs, Some(metas))
    db
  }

  test("invalid index type rejected (test:74–77)") {
    intercept[IllegalArgumentException](VectorDatabase.create(spark, dim, "bogus"))
  }

  test("hnsw default maps to the real graph index (round 7 flip; ldb:21 default)") {
    val db = freshDb("hnsw")
    assert(db.manifest.effectiveType == "graph")
    assert(db.toString.contains("index_type=graph"))
    // default ef_search (50) ≥ this corpus ⇒ unbounded beam ⇒ results
    // must equal the flat scan bit for bit — the same exact-recoverable
    // discipline every index family pins
    val flat = freshDb("flat")
    val a = db.queryVector(vecs(2), 3).collect().map(r => (r.getLong(0), r.getDouble(1)))
    val b = flat.queryVector(vecs(2), 3).collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(a.sameElements(b))
  }

  test("setEf mutates the live recall knob (≙ hnswlib set_ef, ldb:259–262)") {
    val db = VectorDatabase.create(spark, dim, "ivf", ivfClusters = 4, efSearch = 10)
    val many = Seq.fill(40)(vec())
    db.add(many.indices.map(i => s"doc $i"), many, None)
    assert(db.manifest.efSearch == 10) // nprobe 1: approximate
    db.setEf(40) // nprobe 4 = nlist: exact-recoverable from here on
    assert(db.manifest.efSearch == 40)
    val flat = VectorDatabase.create(spark, dim, "flat")
    flat.add(many.indices.map(i => s"doc $i"), many, None)
    val a = db.queryVector(many(9), 5).collect().map(r => (r.getLong(0), r.getDouble(1)))
    val b = flat.queryVector(many(9), 5).collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(a.sameElements(b))
    // the mutated knob persists through save like any manifest field
    val path = java.nio.file.Files.createTempDirectory("graftsetef").toString
    db.save(path)
    assert(VectorDatabase.load(spark, path).manifest.efSearch == 40)
  }

  test("explicit ivf type keeps the probe substitute reachable (round 7)") {
    val db = VectorDatabase.create(spark, dim, "ivf", ivfClusters = 2, efSearch = 20)
    val many = Seq.fill(20)(vec())
    db.add(many.indices.map(i => s"doc $i"), many, None)
    assert(db.manifest.effectiveType == "ivf")
    // efSearch 20 → nprobe 2 = nlist ⇒ exact-recoverable
    val flat = VectorDatabase.create(spark, dim, "flat")
    flat.add(many.indices.map(i => s"doc $i"), many, None)
    val a = db.queryVector(many(7), 5).collect().map(r => (r.getLong(0), r.getDouble(1)))
    val b = flat.queryVector(many(7), 5).collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(a.sameElements(b))
  }

  for (it <- indexTypes) {
    test(s"[$it] add assigns dense ids; len; repr (test:222–230)") {
      val db = freshDb(it)
      assert(db.count == 5)
      val ids = db.data.select("id").collect().map(_.getLong(0)).sorted
      assert(ids.sameElements(0L until 5L))
      assert(db.toString.startsWith("<VectorDatabase dim=8 docs=5 index_type="))
      db.add(Seq("one more"), Seq(vec()), None)
      assert(db.count == 6)
      assert(db.getDocument(5L).contains("one more"))
    }

    test(s"[$it] dim mismatch rejected (ldb:66)") {
      val db = freshDb(it)
      intercept[IllegalArgumentException](db.add(Seq("bad"), Seq(Array.fill(3)(0f)), None))
    }

    test(s"[$it] queryVector: k results, scores in (0,1], sorted (test:86–91, 456)") {
      val db = freshDb(it)
      val r = db.queryVector(vecs(2), topK = 3).collect()
      assert(r.length == 3)
      val scores = r.map(_.getDouble(1))
      assert(scores.forall(s => s > 0 && s <= 1))
      assert(scores.sameElements(scores.sortBy(-_)))
      // the query vector itself must be the nearest for exact paths
      if (it == "flat") assert(r.head.getLong(0) == 2L)
    }

    test(s"[$it] queryVector pre/post filter postconditions (test:104–125)") {
      val db = freshDb(it)
      val pre = db.queryVector(vecs(0), topK = 5,
        preFilter = Some(db.metaValue("priority") === lit("\"high\""))).collect()
      assert(pre.nonEmpty && pre.length <= 5)
      assert(pre.map(_.getLong(0)).toSet.subsetOf(Set(0L, 2L)))
      val post = db.queryVector(vecs(0), topK = 5,
        postFilter = Some(db.metaValue("priority") === lit("\"high\""))).collect()
      assert(post.map(_.getLong(0)).toSet.subsetOf(Set(0L, 2L)))
    }

    test(s"[$it] queryText ranks term matches first (test: bm25 behavior)") {
      val db = freshDb(it)
      val r = db.queryText("python programming", topK = 3).collect()
      assert(r.nonEmpty && r.head.getLong(0) == 1L)
    }

    test(s"[$it] queryMetadata: typed exact match + head-topk (ldb:306–319)") {
      val db = freshDb(it)
      val high = db.queryMetadata(Map("priority" -> "high")).collect().map(_.getLong(0))
      assert(high.sameElements(Seq(0L, 2L)))
      // typed: the double 1250.75 matches rows 0 and 4, the string does not
      val amt = db.queryMetadata(Map("amount" -> 1250.75)).collect().map(_.getLong(0))
      assert(amt.sameElements(Seq(0L, 4L)))
      val amtStr = db.queryMetadata(Map("amount" -> "1250.75")).collect()
      assert(amtStr.isEmpty)
      // conjunctive
      val both = db.queryMetadata(Map("priority" -> "high", "amount" -> 1250.75))
        .collect().map(_.getLong(0))
      assert(both.sameElements(Seq(0L)))
      // no-filter → all ids ascending; topK is a head, not a rank (F4)
      val all = db.queryMetadata().collect().map(_.getLong(0))
      assert(all.sameElements(0L until 5L))
      val head2 = db.queryMetadata(topK = 2).collect().map(_.getLong(0))
      assert(head2.sameElements(Seq(0L, 1L)))
    }

    test(s"[$it] queryMetadata custom filter: key-existence, OR, match-nothing (test:261–282)") {
      val db = freshDb(it)
      // "amount" in meta — key existence via variant extraction null-check;
      // metas 0,1,2,4 carry amount here (the reference fixture has 1)
      val hasAmount = db.queryMetadata(filter = Some(db.metaValue("amount").isNotNull))
        .collect().map(_.getLong(0))
      assert(hasAmount.sameElements(Seq(0L, 1L, 2L, 4L)))
      // complex OR condition
      val important = db.queryMetadata(filter = Some(
        db.metaValue("priority") === lit("\"high\"") ||
        db.metaValue("category") === lit("\"animals\""))).collect().map(_.getLong(0))
      assert(important.sameElements(Seq(0L, 2L, 3L)))
      // filter that matches nothing
      assert(db.queryMetadata(filter = Some(lit(false))).collect().isEmpty)
    }

    test(s"[$it] queryMetadata top_k interactions (test:285–307)") {
      val db = freshDb(it)
      assert(db.queryMetadata(topK = 10).collect().length == 5) // more than available
      assert(db.queryMetadata(Map("priority" -> "high"), topK = 1)
        .collect().map(_.getLong(0)).sameElements(Seq(0L))) // filter + head
    }

    test(s"[$it] hybridSearch: ≤ topK, scores sorted, zero-drop (test:292–328)") {
      val db = freshDb(it)
      val r = db.hybridSearch("vector databases", vecs(2), topK = 3).collect()
      assert(r.nonEmpty && r.length <= 3)
      val scores = r.map(_.getDouble(1))
      assert(scores.forall(_ > 0))
      assert(scores.sameElements(scores.sortBy(-_)))
    }

    test(s"[$it] hybrid weight extremes reorder (test:331–342)") {
      val db = freshDb(it)
      // text query matches doc 1; vector query is doc 3's vector
      val allText = db.hybridSearch("python programming language", vecs(3), 5, vectorWeight = 0.0)
        .collect().map(_.getLong(0))
      val allVec = db.hybridSearch("python programming language", vecs(3), 5, vectorWeight = 1.0)
        .collect().map(_.getLong(0))
      assert(allText.head == 1L)
      assert(allVec.head == 3L)
    }

    test(s"[$it] empty-DB contracts (test:385–405)") {
      val db = VectorDatabase.create(spark, dim, it)
      assert(db.queryVector(vec(), 3).collect().isEmpty)
      assert(db.queryMetadata(Map("a" -> "b")).collect().isEmpty)
      assert(db.hybridSearch("q", vec(), 3).collect().isEmpty)
      intercept[IllegalStateException](db.queryText("q"))
    }
  }

  test("opaque lambda pre/post filters (test:100–125, ldb:310–312)") {
    val db = freshDb("flat")
    // pre-filter: high priority only
    val pre = db.queryVector(vecs(0), 5,
      preFilter = Some(db.metaPredicate(m => m.get("priority").contains("high"))))
      .collect().map(_.getLong(0))
    assert(pre.nonEmpty && pre.toSet.subsetOf(Set(0L, 2L)))
    // post-filter: exclude 'system' type — no fixture doc has the key, so
    // the lambda passes everything (the reference's .get semantics)
    val post = db.queryVector(vecs(0), 5,
      postFilter = Some(db.metaPredicate(m => !m.get("type").contains("system"))))
      .collect().map(_.getLong(0))
    assert(post.length == 5)
    // both together
    val both = db.queryVector(vecs(0), 5,
      preFilter = Some(db.metaPredicate(m => m.get("priority").contains("high"))),
      postFilter = Some(db.metaPredicate(m => !m.get("type").contains("system"))))
      .collect().map(_.getLong(0))
    assert(both.nonEmpty && both.toSet.subsetOf(Set(0L, 2L)))
    // queryMetadata with a typed numeric lambda (amount > 100)
    val rich = db.queryMetadataWhere(m =>
      m.get("amount").exists { case d: Double => d > 100; case _ => false })
      .collect().map(_.getLong(0))
    assert(rich.sameElements(Seq(0L, 2L, 4L)))
  }

  test("faithfulPreFilter reproduces the reference's search-then-intersect order (ldb:179–185)") {
    val db = freshDb("flat")
    val pred = db.metaValue("priority") === lit("\"high\"")
    val unfiltered = db.queryVector(vecs(0), 3).collect().map(_.getLong(0)).toSet
    val faithful = db.queryVector(vecs(0), 3,
      preFilter = Some(pred), faithfulPreFilter = true).collect().map(_.getLong(0)).toSet
    // faithful mode intersects AFTER ranking: results ⊆ (top-k ∩ filter)
    assert(faithful.subsetOf(unfiltered))
    assert(faithful.subsetOf(Set(0L, 2L)))
    // pushdown mode can recall filtered rows outside the global top-k
    val pushdown = db.queryVector(vecs(0), 3,
      preFilter = Some(pred)).collect().map(_.getLong(0)).toSet
    assert(pushdown == Set(0L, 2L)) // both high-priority rows rank within k=3
  }

  test("hybridSearch forced probe path (exactThreshold = 0, ldb:359–374)") {
    val db = freshDb("flat")
    val r = db.hybridSearch("vector databases", vecs(2), topK = 3, exactThreshold = 0L)
      .collect()
    assert(r.nonEmpty && r.length <= 3)
    val scores = r.map(_.getDouble(1))
    assert(scores.forall(_ > 0) && scores.sameElements(scores.sortBy(-_)))
  }

  test("hybridSearchBatch ≡ per-query hybridSearch on both arms (round 9)") {
    import spark.implicits._
    val db = freshDb("flat")
    val qs = Seq((0L, "vector databases", vecs(2).map(_.toDouble).toSeq),
                 (1L, "python programming language", vecs(3).map(_.toDouble).toSeq),
                 (2L, "quick brown fox", vecs(1).map(_.toDouble).toSeq))
    val qdf = qs.toDF("qid", "qtext", "qv")
    for (thr <- Seq(Long.MaxValue, 0L)) { // exact arm; widened-probe arm
      val batch = db.hybridSearchBatch(qdf, "qid", "qtext", "qv", topK = 3,
          exactThreshold = thr).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      val single = qs.flatMap { case (qid, t, v) =>
        db.hybridSearch(t, v.map(_.toFloat).toArray, topK = 3, exactThreshold = thr)
          .collect().map(r => (qid, r.getLong(0), r.getDouble(1)))
      }
      // bit-identical per query: same fusion algebra, same tie order
      assert(batch.toSeq == single,
        s"threshold=$thr: batch ${batch.toSeq} != per-query $single")
    }
    // F7 filter arm: the semi-join mask composes identically per query
    val mask = Some(db.metaValue("priority") === lit("\"high\""))
    val fb = db.hybridSearchBatch(qdf, "qid", "qtext", "qv", topK = 3, filter = mask)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val fs = qs.flatMap { case (qid, t, v) =>
      db.hybridSearch(t, v.map(_.toFloat).toArray, topK = 3, filter = mask)
        .collect().map(r => (qid, r.getLong(0), r.getDouble(1)))
    }
    assert(fb.toSeq == fs, s"filtered: batch ${fb.toSeq} != per-query $fs")
    assert(fb.map(_._2).toSet.subsetOf(Set(0L, 2L))) // only high-priority docs
    // empty-db short-circuit (ldb:346–347) holds for the batch twin
    val empty = VectorDatabase.create(spark, dim, "flat")
    assert(empty.hybridSearchBatch(qdf, "qid", "qtext", "qv").collect().isEmpty)
  }

  test("batch probe arm: SPARSE zero-scatter, bit-identical to the dense formulation (r9 VERDICT #1)") {
    import spark.implicits._
    // corpus big enough that the widened probe (k = max(10·topK, 100) = 100)
    // covers a strict subset, and query texts that hit a handful of docs so
    // the sparse BM25 side is a strict subset too
    val n = 300
    val db = VectorDatabase.create(spark, dim, "flat")
    val bigDocs = (0 until n).map(i =>
      if (i % 37 == 0) s"needle common$i" else s"hay common$i")
    val bigVecs = Seq.fill(n)(vec())
    db.add(bigDocs, bigVecs, None)
    val qs = Seq((0L, "needle", bigVecs(7).map(_.toDouble).toSeq),
                 (1L, "common5 common17", bigVecs(123).map(_.toDouble).toSeq))
    val qdf = qs.toDF("qid", "qtext", "qv")
    var batch = Seq.empty[(Long, Long, Double)]
    val plans = SparkProbe.plans {
      batch = db.hybridSearchBatch(qdf, "qid", "qtext", "qv", topK = 5, exactThreshold = 0L)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    }
    // (2) the fusion input IS sparse: probed (≤100/query) ∪ text matches —
    // never the corpus×batch fill (dense = 600 rows here). Read from the
    // two KnnTopK passes the call ran (the vector probe and the BM25
    // twin): the rows their merges produced.
    val merges = plans.flatMap(p => collect(p) { case m: KnnTopKMergeExec => m })
    assert(merges.size == 2, s"expected the vector and the BM25 pass: ${plans.mkString("\n")}")
    val fused = merges.map(_.metrics("numOutputRows").value).sum
    assert(fused <= 250, s"fusion input has $fused rows — dense would be ${n * qs.size}")
    // (1) equal to the DENSE formulation (the reference's N-row
    // zero-scatter, ldb:365–374) computed on the driver: ids rank for
    // rank, scores within 1e-9 (the driver sums BM25 terms in another order)
    qs.foreach { case (qid, t, v) =>
      val want = HybridRef.expected(bigDocs, bigVecs.toIndexedSeq, t, v.map(_.toFloat).toArray, 5, 0.5,
        probe = true, _ => true)
      val got = batch.filter(_._1 == qid).map(r => (r._2, r._3))
      assert(got.map(_._1) == want.map(_._1), s"qid $qid: sparse batch $got != dense $want")
      got.zip(want).foreach { case ((_, a), (_, b)) => assert(math.abs(a - b) < 1e-9, s"qid $qid: $a vs $b") }
    }
    // (3) no corpus-side cartesian feeding the fusion
    plans.foreach(p => assert(!p.toString.contains("CartesianProduct"), s"dense cross survived:\n$p"))
  }

  test("batch ivfpq arm probes the SAME per-query IVF candidate set as the single path (r9 ADVICE)") {
    import spark.implicits._
    // efSearch 10 < 10 × ivfClusters keeps BOTH arms on the residual-ADC
    // probe path (the exact escape hatch is pinned separately below)
    val db = VectorDatabase.create(spark, dim, "ivfpq", ivfClusters = 4,
      efSearch = 10)
    val many = Seq.fill(40)(vec())
    db.add(many.indices.map(i => s"doc number $i"), many, None)
    assert(db.manifest.effectiveType == "ivfpq")
    val qs = Seq((0L, "doc number 3", many(3).map(_.toDouble).toSeq),
                 (1L, "doc number 17", many(17).map(_.toDouble).toSeq))
    val qdf = qs.toDF("qid", "qtext", "qv")
    val batch = db.hybridSearchBatch(qdf, "qid", "qtext", "qv", topK = 4,
        exactThreshold = 0L).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val single = qs.flatMap { case (qid, t, v) =>
      db.hybridSearch(t, v.map(_.toFloat).toArray, topK = 4, exactThreshold = 0L)
        .collect().map(r => (qid, r.getLong(0), r.getDouble(1)))
    }
    // same probe restriction ⇒ same ids in the same order; scores agree to
    // 1e-9 (the relational ADC sums subspace distances in partition order,
    // the driver path in subspace order — ulp-level float reassociation)
    assert(batch.map(t => (t._1, t._2)).toSeq == single.map(t => (t._1, t._2)),
      s"ivfpq batch ids ${batch.toSeq} != per-query $single")
    batch.map(_._3).zip(single.map(_._3)).foreach { case (a, b) =>
      assert(math.abs(a - b) < 1e-9, s"score $a != $b")
    }
  }

  test("hybridSearchBatch per-query restrict frame (r9 VERDICT #5)") {
    import spark.implicits._
    val db = freshDb("flat")
    val qs = Seq((0L, "vector databases", vecs(2).map(_.toDouble).toSeq),
                 (1L, "python programming language", vecs(3).map(_.toDouble).toSeq))
    val qdf = qs.toDF("qid", "qtext", "qv")
    // per-query allow-lists: query 0 may see docs {1, 2}; query 1 docs {0, 1}
    val allow = Seq((0L, 1L), (0L, 2L), (1L, 0L), (1L, 1L)).toDF("qid", "id")
    val r = db.hybridSearchBatch(qdf, "qid", "qtext", "qv", topK = 5,
        restrict = Some(allow)).collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getDouble(2)))
    // every row honors ITS query's allow-list (not the union)
    val allowed = Set((0L, 1L), (0L, 2L), (1L, 0L), (1L, 1L))
    assert(r.nonEmpty && r.forall(x => allowed((x._1, x._2))), r.toSeq.toString)
    // restricted scores equal the unrestricted run's for surviving pairs:
    // the mask composes AFTER fusion (ldb:390–392's multiply), it never
    // re-normalizes
    val full = db.hybridSearchBatch(qdf, "qid", "qtext", "qv", topK = 5)
      .collect().map(x => ((x.getLong(0), x.getLong(1)), x.getDouble(2))).toMap
    r.foreach { case (qid, id, s) =>
      assert(full.get((qid, id)).forall(_ == s), s"restricted score drifted for ($qid,$id)")
    }
  }

  test("save/load roundtrip: docs, metas, exact query equality for flat (test:127–162)") {
    val db = freshDb("flat")
    val path = java.nio.file.Files.createTempDirectory("graftdb").toString
    db.save(path)
    val db2 = VectorDatabase.load(spark, path)
    assert(db2.count == 5 && db2.dim == dim)
    assert(db2.getDocument(3L) == db.getDocument(3L))
    assert(db2.getMetadata(0L) == db.getMetadata(0L))
    val a = db.queryVector(vecs(1), 5).collect().map(r => (r.getLong(0), r.getDouble(1)))
    val b = db2.queryVector(vecs(1), 5).collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(a.sameElements(b))
  }

  test("ivfpq roundtrip persists residual artifacts and answers queries") {
    // efSearch 10 < 10 × ivfClusters: exercise the residual-ADC probe
    // (not the exact hatch) across the save/load boundary
    val db = VectorDatabase.create(spark, dim, "ivfpq", ivfClusters = 2,
      efSearch = 10)
    val many = Seq.fill(40)(vec())
    db.add(many.indices.map(i => s"doc $i"), many, None)
    val path = java.nio.file.Files.createTempDirectory("graftivf").toString
    db.save(path)
    // ivfpq persists the residual codes + codebooks + coarse centroids
    // (ldb:219–222 persists the faiss.IndexIVFPQ binary; ours is three
    // parquet frames — the codes carry the coarse assignment per row)
    assert(new java.io.File(s"$path/index/pq/codes").exists())
    assert(new java.io.File(s"$path/index/pq/codebooks").exists())
    assert(new java.io.File(s"$path/index/pq/centroids").exists())
    val db2 = VectorDatabase.load(spark, path)
    assert(db2.manifest.effectiveType == "ivfpq")
    val r = db2.queryVector(many(7), 3).collect()
    assert(r.nonEmpty && r.head.getLong(0) == 7L)
    // loaded residual-ADC results match the pre-save index bit for bit
    val a = db.queryVector(many(11), 5).collect().map(x => (x.getLong(0), x.getDouble(1)))
    val b = db2.queryVector(many(11), 5).collect().map(x => (x.getLong(0), x.getDouble(1)))
    assert(a.sameElements(b))
  }

  test("ivfpq exact escape hatch (efSearch >= 10x clusters): bit-identical to the flat scan, single and batch") {
    import spark.implicits._
    // efSearch 40 = 10 × ivfClusters: the residual bound pass + float
    // rerank must reproduce the exact scan — ids AND scores
    val db = VectorDatabase.create(spark, dim, "ivfpq", ivfClusters = 4,
      efSearch = 40)
    val many = Seq.fill(50)(vec())
    val ms = many.indices.map(i =>
      Map[String, Any]("priority" -> (if (i % 2 == 0) "high" else "low")))
    db.add(many.indices.map(i => s"doc $i"), many, Some(ms))
    assert(db.manifest.effectiveType == "ivfpq")
    val flat = VectorDatabase.create(spark, dim, "flat")
    flat.add(many.indices.map(i => s"doc $i"), many, Some(ms))
    val a = db.queryVector(many(7), 5).collect().map(r => (r.getLong(0), r.getDouble(1)))
    val b = flat.queryVector(many(7), 5).collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(a.sameElements(b), s"hatch ${a.toSeq} != flat ${b.toSeq}")
    // filtered: the restrict narrows BOTH the bound pass and the rerank —
    // a global threshold over unfiltered codes would wrongly prune
    val pred = db.metaValue("priority") === lit("\"high\"")
    val fa = db.queryVector(many(8), 5, preFilter = Some(pred))
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    val fb = flat.queryVector(many(8), 5, preFilter = Some(pred))
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(fa.sameElements(fb), s"filtered hatch ${fa.toSeq} != flat ${fb.toSeq}")
    assert(fa.map(_._1).forall(_ % 2 == 0))
    // batch twin under the hatch: hybrid's probe arm ≡ per-query
    val qs = Seq((0L, "doc 3", many(3).map(_.toDouble).toSeq),
                 (1L, "doc 17", many(17).map(_.toDouble).toSeq))
    val qdf = qs.toDF("qid", "qtext", "qv")
    val batch = db.hybridSearchBatch(qdf, "qid", "qtext", "qv", topK = 4,
        exactThreshold = 0L).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val single = qs.flatMap { case (qid, t, v) =>
      db.hybridSearch(t, v.map(_.toFloat).toArray, topK = 4, exactThreshold = 0L)
        .collect().map(r => (qid, r.getLong(0), r.getDouble(1)))
    }
    assert(batch.toSeq == single, s"hatch batch ${batch.toSeq} != per-query $single")
  }

  test("pq facade (raw FAISS IndexPQ): ADC postconditions + save/load roundtrip") {
    val db = VectorDatabase.create(spark, dim, "pq")
    val many = Seq.fill(40)(vec())
    db.add(many.indices.map(i => s"doc $i"), many, None)
    assert(db.manifest.effectiveType == "pq")
    assert(db.toString.contains("index_type=pq"))
    val r = db.queryVector(many(7), 5).collect()
    assert(r.length == 5)
    val scores = r.map(_.getDouble(1))
    assert(scores.forall(s => s > 0 && s <= 1) && scores.sameElements(scores.sortBy(-_)))
    // self-query ranks itself first: its own code reconstructs nearest
    assert(r.head.getLong(0) == 7L)
    val path = java.nio.file.Files.createTempDirectory("graftpq").toString
    db.save(path)
    assert(new java.io.File(s"$path/index/pq/codes").exists())
    assert(new java.io.File(s"$path/index/pq/codebooks").exists())
    assert(!new java.io.File(s"$path/index/pq/centroids").exists(),
      "raw PQ has no coarse quantizer — centroids must not be written")
    val db2 = VectorDatabase.load(spark, path)
    assert(db2.manifest.effectiveType == "pq")
    val a = db.queryVector(many(11), 5).collect().map(x => (x.getLong(0), x.getDouble(1)))
    val b = db2.queryVector(many(11), 5).collect().map(x => (x.getLong(0), x.getDouble(1)))
    assert(a.sameElements(b))
    // missing artifacts -> error, like every index family
    def rm(f: java.io.File): Unit = { if (f.isDirectory) f.listFiles.foreach(rm); f.delete() }
    rm(new java.io.File(s"$path/index"))
    intercept[IllegalStateException](VectorDatabase.load(spark, path))
  }

  test("lazy-index load: probes prune parquet partitions, results equal the eager load") {
    val db = VectorDatabase.create(spark, dim, "ivf", ivfClusters = 4, efSearch = 20)
    val many = Seq.fill(40)(vec())
    db.add(many.indices.map(i => s"doc $i"), many, None)
    val path = java.nio.file.Files.createTempDirectory("graftivflazy").toString
    db.save(path)
    // the lazy collection first: the eager load caches the same parquet
    // read, and Spark's cache manager would then serve the lazy one from it
    val lazyDb = VectorDatabase.load(spark, path, lazyIndexes = true)
    val ivf = lazyDb.indexIfBuilt match {
      case Some(graft.vector.AnnIndex.Ivf(i)) => i
      case other => fail(s"slot holds $other")
    }
    // efSearch 20 → nprobe 2 of the 4 cells
    val probed = ivf.probeOrder(many(5).map(_.toDouble)).take(2)
    assert(probed.length < ivf.nlist)
    assert(SparkProbe.partitionsRead("assignments")(lazyDb.queryVector(many(5), 3).collect()) ==
      Seq(probed.length.toLong), "the lazy probe read unprobed cluster directories")
    val b = lazyDb.queryVector(many(5), 3).collect().map(x => (x.getLong(0), x.getDouble(1)))
    val eager = VectorDatabase.load(spark, path)
    val a = eager.queryVector(many(5), 3).collect().map(x => (x.getLong(0), x.getDouble(1)))
    assert(a.sameElements(b))
  }

  test("unknown index type in manifest downgrades to flat (test:164–198)") {
    val db = freshDb("flat")
    val path = java.nio.file.Files.createTempDirectory("graftunk").toString
    db.save(path)
    val p = java.nio.file.Paths.get(path, "manifest.json")
    val json = new String(java.nio.file.Files.readAllBytes(p))
    java.nio.file.Files.write(p, json.replace("\"flat\"", "\"mystery\"").getBytes)
    // the rewrite bypassed Hadoop's checksummed LocalFileSystem — drop the
    // stale .crc sidecar so the tampered manifest reads back
    java.nio.file.Files.deleteIfExists(java.nio.file.Paths.get(path, ".manifest.json.crc"))
    val db2 = VectorDatabase.load(spark, path)
    assert(db2.manifest.effectiveType == "flat")
    assert(db2.queryVector(vecs(0), 2).collect().length == 2)
  }

  test("missing index artifacts -> error (test:200–220)") {
    val db = VectorDatabase.create(spark, dim, "ivfpq", ivfClusters = 2)
    val many = Seq.fill(20)(vec())
    db.add(many.indices.map(i => s"doc $i"), many, None)
    val path = java.nio.file.Files.createTempDirectory("graftmiss").toString
    db.save(path)
    // delete the index artifacts but keep data + manifest
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles.foreach(rm); f.delete()
    }
    rm(new java.io.File(s"$path/index"))
    intercept[IllegalStateException](VectorDatabase.load(spark, path))
  }

  test("ivfpq tiny-dataset degrade ladder -> effectively flat (test:369–383)") {
    val db = VectorDatabase.create(spark, dim, "ivfpq", ivfClusters = 100)
    db.add(Seq("a", "b"), Seq(vec(), vec()), None)
    // search still succeeds on a 2-row dataset
    val r = db.queryVector(vec(), 2).collect()
    assert(r.length == 2)
    // effective type observable after the fallback (ldb:108)
    assert(db.manifest.effectiveType == "flat")
    assert(db.toString.contains("index_type=flat"))
  }

  test("bulk distributed ingest assigns dense ids") {
    import spark.implicits._
    val db = VectorDatabase.create(spark, 4, "flat")
    val batch = (0 until 100).map(i => (s"k$i", s"doc $i", Seq.fill(4)(i.toFloat)))
      .toDF("k", "d", "v")
    db.addBulk(batch, "d", "v", None, "k")
    assert(db.count == 100)
    val ids = db.data.select("id").collect().map(_.getLong(0)).sorted
    assert(ids.sameElements(0L until 100L))
  }

  test("bulk ingest: ids are dense AND follow the order column across partitions") {
    import spark.implicits._
    val db = VectorDatabase.create(spark, 2, "flat")
    val n = 10000
    val rnd = new scala.util.Random(3)
    // shuffled insert order over many partitions; ordKey is zero-padded so
    // string order == numeric order
    val batch = rnd.shuffle((0 until n).toVector)
      .map(i => (f"k$i%06d", s"doc $i", Seq(i.toFloat, 0f)))
      .toDF("k", "d", "v").repartition(16)
    db.addBulk(batch, "d", "v", None, "k")
    assert(db.count == n)
    // id must equal the rank of the order key: doc i carries ordKey k%06d,
    // so id == i for every row — a partition-offset mismatch between the
    // count pass and the assign pass would break this, not just density
    val rows = db.data.select("id", "doc").collect()
      .map(r => r.getLong(0) -> r.getString(1).stripPrefix("doc ").toInt)
    assert(rows.length == n)
    rows.foreach { case (id, i) => assert(id == i.toLong, s"doc $i got id $id") }
    // appending again continues the sequence
    db.addBulk(Seq(("zz", "tail doc", Seq(1f, 1f))).toDF("k", "d", "v"), "d", "v", None, "k")
    assert(db.getDocument(n.toLong).contains("tail doc"))
  }

  test("lsh facade roundtrip: create -> add -> save -> load -> queryVector (r2 VERDICT #4)") {
    // efSearch 500 → probe radius 10 ≥ ⌈(maxNorm + qNorm)/bucketLength⌉ = 8
    // at dim 8, so the LSH probe is a provable candidate superset here and
    // results must equal the flat scan bit for bit
    val db = VectorDatabase.create(spark, dim, "lsh", efSearch = 500)
    val many = Seq.fill(40)(vec())
    db.add(many.indices.map(i => s"doc $i"), many, None)
    assert(db.manifest.effectiveType == "lsh")
    assert(db.toString.contains("index_type=lsh"))
    val flat = VectorDatabase.create(spark, dim, "flat")
    flat.add(many.indices.map(i => s"doc $i"), many, None)
    val viaLsh = db.queryVector(many(7), 5).collect().map(r => (r.getLong(0), r.getDouble(1)))
    val viaFlat = flat.queryVector(many(7), 5).collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(viaLsh.sameElements(viaFlat))
    val path = java.nio.file.Files.createTempDirectory("graftlsh").toString
    db.save(path)
    assert(new java.io.File(s"$path/index/lsh/hashed").exists())
    assert(new java.io.File(s"$path/index/lsh/planes").exists())
    val db2 = VectorDatabase.load(spark, path)
    assert(db2.manifest.effectiveType == "lsh")
    val again = db2.queryVector(many(7), 5).collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(again.sameElements(viaLsh))
  }

  test("lsh missing artifacts -> error") {
    val db = VectorDatabase.create(spark, dim, "lsh")
    val many = Seq.fill(10)(vec())
    db.add(many.indices.map(i => s"doc $i"), many, None)
    val path = java.nio.file.Files.createTempDirectory("graftlshmiss").toString
    db.save(path)
    def rm(f: java.io.File): Unit = { if (f.isDirectory) f.listFiles.foreach(rm); f.delete() }
    rm(new java.io.File(s"$path/index"))
    intercept[IllegalStateException](VectorDatabase.load(spark, path))
  }

  test("filtered queryVector on an ivf collection equals the exact filtered scan when all clusters probe (r2 VERDICT #6)") {
    // efSearch 40 → nprobe 4 = nlist: the filtered probe covers every
    // cluster, so pushdown-into-probe must reproduce the flat filtered scan
    val db = VectorDatabase.create(spark, dim, "ivf", ivfClusters = 4, efSearch = 40)
    val many = Seq.fill(60)(vec())
    val ms = many.indices.map(i =>
      Map[String, Any]("priority" -> (if (i % 2 == 0) "high" else "low")))
    db.add(many.indices.map(i => s"doc $i"), many, Some(ms))
    assert(db.manifest.effectiveType == "ivf")
    val pred = db.metaValue("priority") === lit("\"high\"")
    val viaIvf = db.queryVector(many(8), 5, preFilter = Some(pred))
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    val flat = VectorDatabase.create(spark, dim, "flat")
    flat.add(many.indices.map(i => s"doc $i"), many, Some(ms))
    val viaFlat = flat.queryVector(many(8), 5, preFilter = Some(pred))
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(viaIvf.sameElements(viaFlat))
    assert(viaIvf.map(_._1).forall(_ % 2 == 0)) // only high-priority (even) ids
  }

  test("filtered ivf probe still prunes clusters (plan pin, r2 VERDICT #6)") {
    val db = VectorDatabase.create(spark, dim, "ivf", ivfClusters = 4, efSearch = 10)
    val many = Seq.fill(60)(vec())
    val ms = many.indices.map(i =>
      Map[String, Any]("priority" -> (if (i % 2 == 0) "high" else "low")))
    db.add(many.indices.map(i => s"doc $i"), many, Some(ms))
    val pred = db.metaValue("priority") === lit("\"high\"")
    val p = db.queryVector(many(3), 5, preFilter = Some(pred))
      .queryExecution.executedPlan.toString
    // the probed-cluster IN-filter must survive the filter pushdown (no
    // silent fallback to a full exact scan); nprobe here is 4 × efSearch/10
    // (the presence of a filter widens the probe budget)
    assert(p.contains("cluster"), s"no cluster pruning in plan:\n$p")
    // the allow-list is an existence join under the probe, filtered on its
    // mark (KnnTopK.Restrict): a semi-join would be pushed into each branch
    // of an appended (unioned) index and broadcast once per branch
    assert(p.contains("ExistenceJoin") && p.contains("Filter allowed"),
      s"filter not applied as a join under the probe:\n$p")
  }

  test("a preFilter widens the ivf probe budget 4x (probe-bounded recall, r3 ADVICE)") {
    // efSearch 10 → unfiltered nprobe 1; with a filter the widened budget
    // (4 = nlist) covers every cluster, so the filtered ivf result must
    // equal the exact filtered scan even though the unfiltered probe of the
    // same collection reads a single cluster.
    val db = VectorDatabase.create(spark, dim, "ivf", ivfClusters = 4, efSearch = 10)
    val many = Seq.fill(60)(vec())
    val ms = many.indices.map(i =>
      Map[String, Any]("priority" -> (if (i % 2 == 0) "high" else "low")))
    db.add(many.indices.map(i => s"doc $i"), many, Some(ms))
    assert(db.manifest.effectiveType == "ivf")
    val pred = db.metaValue("priority") === lit("\"high\"")
    val viaIvf = db.queryVector(many(8), 5, preFilter = Some(pred))
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    val flat = VectorDatabase.create(spark, dim, "flat")
    flat.add(many.indices.map(i => s"doc $i"), many, Some(ms))
    val viaFlat = flat.queryVector(many(8), 5, preFilter = Some(pred))
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(viaIvf.sameElements(viaFlat))
  }

  test("save/load through an explicit file: URI (Hadoop FileSystem API, r2 VERDICT #7)") {
    val db = VectorDatabase.create(spark, dim, "ivfpq", ivfClusters = 2)
    val many = Seq.fill(40)(vec())
    db.add(many.indices.map(i => s"doc $i"), many, None)
    val path = "file://" + java.nio.file.Files.createTempDirectory("graftfsuri").toString
    db.save(path) // manifest + artifact checks all go through Hadoop FS
    val db2 = VectorDatabase.load(spark, path)
    assert(db2.count == 40 && db2.manifest.effectiveType == "ivfpq")
    val a = db.queryVector(many(5), 5).collect().map(r => (r.getLong(0), r.getDouble(1)))
    val b = db2.queryVector(many(5), 5).collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(a.sameElements(b))
  }

  test("addBulkWithIds: non-dense unique ids, no global sort, all query paths accept them") {
    import spark.implicits._
    val many = Seq.fill(6)(vec())
    val src = many.zipWithIndex.map { case (v, i) =>
      (1000L + 10L * i, s"custom doc $i", v.toSeq, s"""{"grp":${i % 2}}""")
    }.toDF("my_id", "text", "emb", "mj")
    val db = VectorDatabase.create(spark, dim, "flat")
    db.addBulkWithIds(src, "text", "emb", Some("mj"), "my_id", verifyUnique = true)
    assert(db.count == 6)
    // point lookup, metadata filter, text and vector search all key on id
    assert(db.getDocument(1020L).contains("custom doc 2"))
    assert(db.queryMetadata(Map("grp" -> 1L)).collect().map(_.getLong(0)).toSeq
      == Seq(1010L, 1030L, 1050L))
    assert(db.queryVector(many(3), topK = 1).head().getLong(0) == 1030L)
    assert(db.queryText("custom doc", topK = 6).count() == 6)
    // uniqueness is enforced when asked: colliding batch rejected
    intercept[IllegalArgumentException] {
      db.addBulkWithIds(src.limit(1), "text", "emb", Some("mj"), "my_id",
        verifyUnique = true)
    }
  }
}

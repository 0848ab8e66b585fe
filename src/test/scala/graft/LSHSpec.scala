package graft

import graft.vector.{ExactKNN, LSHIndex}
import org.scalatest.funsuite.AnyFunSuite

class LSHSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  private lazy val emb = spark.read.parquet(s"$dir/embeddings.parquet").cache()
  private lazy val index = LSHIndex.build(emb, "vec_id", "embedding",
    numHashTables = 4, bucketLength = 0.25)

  private def queryVec(id: Long): Array[Double] =
    emb.where(emb("vec_id") === id).select("embedding")
      .head().getSeq[Float](0).map(_.toDouble).toArray

  test("LSH recall@10 >= 0.5 vs exact, averaged over 10 queries") {
    val recalls = (0L until 10L).map { i =>
      val q = queryVec(i * 13)
      val exact = ExactKNN.topK(emb, "vec_id", "embedding", q, 10)
        .collect().map(_.getLong(0)).toSet
      val approx = index.search(q, 10).collect().map(_.getLong(0)).toSet
      (exact intersect approx).size / 10.0
    }
    val mean = recalls.sum / recalls.size
    assert(mean >= 0.5, s"mean LSH recall@10 = $mean (per-query: $recalls)")
  }

  test("searchBatch: exact superset radius equals the exact batch scan; tuned radius recalls") {
    import org.apache.spark.sql.functions.col
    val queries = emb.where(col("vec_id").isin(3L, 21L, 77L))
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    val exact = BruteForceKnn.topK(BruteForceKnn.rows(emb, "vec_id", "embedding"),
        BruteForceKnn.rows(queries, "qid", "qv"), 5, BruteForceKnn.L2Sq)
      .map { case (q, id, _) => (q, id) }
    val viaLsh = index.searchBatch(queries, "qid", "qv", k = 5, exact = true)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(viaLsh == exact)
    // tuned (radius 0) bulk probe: each query still finds ITSELF first
    val tuned = index.searchBatch(queries, "qid", "qv", k = 5, probeRadius = 0)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    for (qid <- Seq(3L, 21L, 77L))
      assert(tuned.find(_._1 == qid).exists(_._2 == qid),
        s"query $qid did not find itself in its own bucket")
  }

  test("the query's own vector is always returned first") {
    val r = index.search(queryVec(99), 5).collect()
    assert(r.nonEmpty && r.head.getLong(0) == 99L)
    assert(math.abs(r.head.getDouble(1) - 1.0) < 1e-9)
  }

  test("exact-probe configuration is bit-identical to the flat scan") {
    for (qid <- Seq(3L, 21L, 77L)) {
      val q = queryVec(qid)
      val exact = ExactKNN.topK(emb, "vec_id", "embedding", q, 10)
        .collect().map(r => (r.getLong(0), r.getDouble(1)))
      val lsh = index.search(q, 10, exact = true)
        .collect().map(r => (r.getLong(0), r.getDouble(1)))
      assert(lsh.sameElements(exact), s"qid=$qid")
    }
  }

  test("knnGraph over LSH (shuffle arm, exact radius) ≡ exact k-NN graph") {
    import org.apache.spark.sql.functions.col
    val nodes = Some(col("vec_id") < 60)
    val viaLsh = index.knnGraph(emb, "vec_id", "embedding", k = 3, exact = true,
        nodesFilter = nodes)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val queries = emb.where(col("vec_id") < 60)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    // the exact graph: each node's 3 best OTHER vectors
    val cut = BruteForceKnn.topK(BruteForceKnn.rows(emb, "vec_id", "embedding"),
        BruteForceKnn.rows(queries, "qid", "qv"), 3, BruteForceKnn.L2Sq,
        eligible = (qid, _, id) => qid != id)
      .map { case (q, id, _) => (q, id) }
    assert(viaLsh == cut)
  }

  test("save/load roundtrip preserves hashes, params, and search results") {
    val path = java.nio.file.Files.createTempDirectory("graftlsh").toString
    LSHIndex.save(index, path)
    val loaded = LSHIndex.load(spark, path)
    assert(loaded.bucketLength == index.bucketLength)
    assert(loaded.maxNorm == index.maxNorm)
    assert(loaded.hyperplanes.length == index.hyperplanes.length)
    val q = queryVec(42)
    val a = index.search(q, 10).collect().map(r => (r.getLong(0), r.getDouble(1)))
    val b = loaded.search(q, 10).collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(a.sameElements(b))
  }
}

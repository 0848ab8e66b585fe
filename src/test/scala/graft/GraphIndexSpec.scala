package graft

import graft.plans.KnnTopKExec
import graft.vector.GraphIndex
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, FloatType, LongType, StructField, StructType}
import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite

class GraphIndexSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {
  private lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  private lazy val emb = spark.read.parquet(s"$dir/embeddings.parquet").cache()
  private lazy val index = GraphIndex.build(emb, "vec_id", "embedding", k = 8)

  private def queryVec(id: Long): Array[Double] =
    emb.where(emb("vec_id") === id).select("embedding")
      .head().getSeq[Float](0).map(_.toDouble).toArray

  private def queriesOf(ids: Long*): DataFrame =
    emb.where(col("vec_id").isin(ids.map(Long.box): _*))
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))

  private def exact(queries: DataFrame, k: Int) =
    BruteForceKnn.topK(BruteForceKnn.rows(emb, "vec_id", "embedding"),
      BruteForceKnn.rows(queries, "qid", "qv"), k, BruteForceKnn.L2Sq)

  /** Each shard's (id, nbrs) rows in position order. */
  private def shardsOf(g: GraphIndex): Map[Int, Seq[(Long, Seq[Int])]] =
    g.frame.select("shard", "id", "nbrs").collect().toSeq.groupBy(_.getInt(0)).map { case (s, rs) =>
      s -> rs.map(r => (r.getLong(1), r.getSeq[Int](2))).sortBy(_._1)
    }

  private val schema = StructType(Seq(StructField("id", LongType, nullable = false),
    StructField("v", ArrayType(FloatType, containsNull = false))))

  private def randomRows(n: Int, dim: Int, seed: Int): Seq[(Long, Array[Float])] = {
    val rnd = new scala.util.Random(seed)
    (0 until n).map(i => (i.toLong, Array.fill(dim)(rnd.nextFloat())))
  }

  private def frameOf(rows: Seq[(Long, Array[Float])], parts: Int): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(
      rows.map { case (id, v) => Row(id, v.toSeq) }, parts), schema)

  private def withShufflePartitions[T](n: Int)(f: => T): T = {
    val key = "spark.sql.shuffle.partitions"
    val prev = spark.conf.get(key)
    spark.conf.set(key, n.toString)
    try f finally spark.conf.set(key, prev)
  }

  test("build on an empty corpus fails fast with a real message (round-10 review)") {
    import spark.implicits._
    val empty = Seq.empty[(Long, Seq[Float])].toDF("id", "v")
    val e = intercept[IllegalArgumentException](GraphIndex.build(empty, "id", "v"))
    assert(e.getMessage.contains("empty corpus"))
  }

  test("skip-ring connectivity: every node is an edge source and target") {
    val shards = shardsOf(index)
    assert(shards.keySet == Set(0), "a corpus under shardTarget is one shard")
    val nodes = shards(0)
    val s = nodes.length
    assert(s == emb.count())
    nodes.zipWithIndex.foreach { case ((id, nb), p) =>
      assert(nb.nonEmpty && nb.forall(q => q >= 0 && q < s && q != p), s"node $id: $nb")
      Iterator.iterate(1)(_ * 2).takeWhile(p + _ < s).foreach(j =>
        assert(nb.contains(p + j), s"node $id lacks ring edge to position ${p + j}"))
    }
    // the search walks every edge both ways: each node is a target too
    val targets = nodes.indices.flatMap(p => nodes(p)._2.flatMap(q => Seq(p, q))).toSet
    assert(targets == nodes.indices.toSet)
  }

  test("nbrs hold each node's exact k nearest shard-mates by squared L2") {
    val rows = BruteForceKnn.rows(emb, "vec_id", "embedding").sortBy(_._1)
    val pos = rows.map(_._1).zipWithIndex.toMap
    val nodes = shardsOf(index)(0)
    for (p <- Seq(0, 7, 123, rows.length - 1)) {
      val (id, v) = rows(p)
      val want = BruteForceKnn.topK(rows.filter(_._1 != id), Seq((id, v)), 8, BruteForceKnn.L2Sq)
        .map(h => pos(h._2)).toSet
      assert(want.subsetOf(nodes(p)._2.toSet), s"node $id: nbrs ${nodes(p)._2} lack $want")
    }
  }

  test("append re-wires only the shards the batch lands in; one shard equals a build over the union") {
    val cut = 400L
    def rowsOf(g: GraphIndex) =
      g.frame.select("shard", "id", "nbrs").collect().map(r => (r.getInt(0), r.getLong(1), r.getSeq[Int](2))).toSeq
    val base = GraphIndex.build(emb.where(col("vec_id") < cut), "vec_id", "embedding", k = 8)
    val appended = base.append(emb.where(col("vec_id") >= cut), "vec_id", "embedding")
    val whole = GraphIndex.build(emb, "vec_id", "embedding", k = 8)
    assert(appended.n == whole.n)
    assert(rowsOf(appended).sortBy(_._2) == rowsOf(whole).sortBy(_._2))
    appended.dispose(); whole.dispose()

    val sharded = GraphIndex.build(emb.where(col("vec_id") < cut), "vec_id", "embedding", k = 8,
      target = 60)
    val before = rowsOf(sharded).groupBy(_._1)
    val batch = emb.where(col("vec_id").between(cut, cut + 4))
    val grown = sharded.append(batch, "vec_id", "embedding")
    val after = rowsOf(grown).groupBy(_._1)
    val touched = after.values.flatten.filter(_._2 >= cut).map(_._1).toSet
    assert(touched.nonEmpty && touched.size < sharded.shards, s"batch landed in $touched")
    for ((s, rs) <- before if !touched(s)) assert(after(s).sortBy(_._2) == rs.sortBy(_._2), s"shard $s")
    for (s <- touched) assert(after(s).length == before.getOrElse(s, Nil).length +
      after(s).count(_._2 >= cut))
    grown.dispose()
  }

  test("dispose and append release the superseded frame") {
    val data = frameOf(randomRows(64, 4, 3), 2)
    val idx = GraphIndex.build(data, "id", "v", k = 4)
    assert(idx.frame.storageLevel != StorageLevel.NONE)
    val grown = idx.append(frameOf(randomRows(4, 4, 4).map { case (i, v) => (i + 100, v) }, 1), "id", "v")
    assert(idx.frame.storageLevel == StorageLevel.NONE, "append kept the superseded frame cached")
    assert(grown.frame.storageLevel != StorageLevel.NONE)
    assert(grown.frame.queryExecution.logical.children.isEmpty, "the appended frame is not a leaf plan")
    grown.dispose()
    assert(grown.frame.storageLevel == StorageLevel.NONE)
  }

  test("shard rule: one shard up to shardTarget, IVF cells above it, each shard near the target") {
    assert(index.shards == 1)
    val n = emb.count()
    val sharded = GraphIndex.build(emb, "vec_id", "embedding", k = 8, target = 100)
    val sizes = shardsOf(sharded).values.map(_.length)
    assert(sizes.sum == n)
    assert(sizes.size >= ((n + 99) / 100).toInt, s"shards $sizes")
    assert(sizes.max <= 150, s"a shard far over the target: $sizes")
    sharded.dispose()
  }

  test("append past shardTarget splits the shard: every shard stays bounded, search stays exact") {
    // 30 rows in one shard of target 40, then 210 and 100 more: each
    // overflowing append at least doubles the cell's hash pieces
    val rows = randomRows(340, 8, 13)
    val q = Array.fill(8)(0.5)
    var idx = GraphIndex.build(frameOf(rows.take(30), 2), "id", "v", k = 4, target = 40)
    assert(idx.shards == 1)
    for ((upTo, minShards) <- Seq((240, 6), (340, 12))) {
      idx = idx.append(frameOf(rows.slice(idx.n.toInt, upTo), 3), "id", "v")
      val sizes = shardsOf(idx).values.map(_.length)
      assert(idx.n == upTo && sizes.sum == upTo)
      assert(idx.shards >= minShards && sizes.max <= 80, s"shards ${idx.shards}: $sizes")
      val want = BruteForceKnn.topK(rows.take(upTo).map { case (i, v) => (i, v.map(_.toDouble)) },
        Seq((0L, q)), 5, BruteForceKnn.L2Sq).map(h => (h._2, h._3.doubleValue))
      // ef = 0 is the exact scan; a beam as wide as a shard walks all of it
      for (ef <- Seq(0, upTo)) {
        val got = idx.search(q, 5, ef = ef).collect().map(r => (r.getLong(0), r.getDouble(1)))
        assert(got.toSeq == want, s"n=$upTo ef=$ef")
      }
    }
    idx.dispose()
  }

  test("sharded-path build: unbounded beam stays EXACT over approximate edges") {
    // 64 rows in shards of ~16: ef = 0 is the exact scan, and a beam at
    // least as wide as a shard walks all of it (the ring connects it)
    val rows = randomRows(64, 8, 5)
    val data = frameOf(rows, 3)
    val idx = GraphIndex.build(data, "id", "v", k = 4, target = 16)
    assert(idx.shards >= 4)
    val q = Array.fill(8)(0.5)
    val want = BruteForceKnn.topK(rows.map { case (i, v) => (i, v.map(_.toDouble)) }, Seq((0L, q)), 5,
      BruteForceKnn.L2Sq).map(h => (h._2, h._3.doubleValue))
    for (ef <- Seq(0, 64)) {
      val got = idx.search(q, 5, ef = ef).collect().map(r => (r.getLong(0), r.getDouble(1)))
      assert(got.toSeq == want, s"ef=$ef")
    }
    idx.dispose()
  }

  test("unbounded beam (ef = 0) is EXACT: equals the flat batch scan bit for bit") {
    val queries = queriesOf(3L, 21L, 77L)
    val viaGraph = BruteForceKnn.collect(index.searchBatch(queries, "qid", "qv", k = 5, ef = 0))
    assert(BruteForceKnn.same(viaGraph, exact(queries, 5)))
  }

  test("searchBatch is one KnnTopK pass: a collected search is one job at any ef") {
    val queries = block(Seq(3L, 21L))
    for (ef <- Seq(0, 16)) {
      val df = index.searchBatch(queries, "qid", "qv", k = 3, ef = ef)
      df.collect()
      assert(SparkProbe.jobs(df.collect()) == 1, s"ef=$ef")
    }
  }

  private def block(ids: Seq[Long]): DataFrame =
    graft.plans.KnnTopK.block(spark, ids.map(i => (i, queryVec(i))))

  test("single-query search finds the query's own vector first") {
    for (ef <- Seq(0, 16)) {
      val r = index.search(queryVec(42), k = 5, ef = ef).collect()
      assert(r.head.getLong(0) == 42L)
      assert(math.abs(r.head.getDouble(1) - 1.0) < 1e-9)
    }
  }

  test("tuned beam recall@10 >= 0.6 over 10 queries at ef = 64 (one batch traversal)") {
    val qids = (0L until 10L).map(_ * 13)
    val queries = queriesOf(qids: _*)
    val want = exact(queries, 10).groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val got = index.searchBatch(queries, "qid", "qv", k = 10, ef = 64)
      .collect().groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    val recalls = qids.map(q => (want(q) intersect got.getOrElse(q, Set.empty)).size / 10.0)
    val mean = recalls.sum / recalls.size
    assert(mean >= 0.6, s"mean graph recall@10 = $mean (per-query: $recalls)")
  }

  test("tuned hits carry their exact scores, and a filtered beam returns only allowed ids") {
    val queries = queriesOf(5L, 60L)
    val truth = exact(queries, emb.count().toInt).map(h => (h._1, h._2) -> h._3).toMap
    val tuned = BruteForceKnn.collect(index.searchBatch(queries, "qid", "qv", k = 10, ef = 16))
    assert(tuned.length == 20)
    tuned.foreach { case (q, id, s) => assert(truth((q, id)) == s, s"q$q id $id") }
    val allow = emb.where(col("vec_id") % 5 === 0).select(col("vec_id").as("id"))
    val filtered = BruteForceKnn.collect(index.searchBatch(queries, "qid", "qv", k = 10, ef = 16,
      restrict = Some(allow)))
    assert(filtered.length == 20 && filtered.forall(_._2 % 5 == 0), s"$filtered")
    // a beam as wide as the shard walks every node: the filtered exact answer
    val wide = BruteForceKnn.collect(index.searchBatch(queries, "qid", "qv", k = 10,
      ef = emb.count().toInt, restrict = Some(allow)))
    val want = BruteForceKnn.topK(BruteForceKnn.rows(emb, "vec_id", "embedding").filter(_._1 % 5 == 0),
      BruteForceKnn.rows(queries, "qid", "qv"), 10, BruteForceKnn.L2Sq)
    assert(BruteForceKnn.same(wide, want))
  }

  test("tuned results are bit-identical at corpus partitions {1,3,7} x shuffle {1,7,32}, one shard and several") {
    val rows = randomRows(200, 8, 11)
    val qs = graft.plans.KnnTopK.block(spark, Seq((0L, Array.fill(8)(0.3)), (1L, rows(17)._2.map(_.toDouble)),
      (2L, Array.fill(8)(0.7))))
    def answers(parts: Int, sp: Int): Seq[Seq[(Long, Long, java.lang.Double)]] = withShufflePartitions(sp) {
      val data = frameOf(rows, parts)
      val allow = data.where(col("id") % 2 === 0).select(col("id"))
      Seq(GraphIndex.shardTarget, 40).flatMap { target =>
        val g = GraphIndex.build(data, "id", "v", k = 6, target = target)
        try Seq(None, Some(allow)).map(r =>
          BruteForceKnn.collect(g.searchBatch(qs, "qid", "qv", k = 5, ef = 12, restrict = r)))
        finally g.dispose()
      }
    }
    val ref = answers(1, 1)
    assert(ref.forall(_.length == 15))
    for (parts <- Seq(1, 3, 7); sp <- Seq(1, 7, 32) if (parts, sp) != ((1, 1)))
      assert(answers(parts, sp).zip(ref).forall { case (a, b) => BruteForceKnn.same(a, b) },
        s"parts=$parts sp=$sp")
  }

  test("save/load roundtrip preserves the graph and its exact search") {
    val path = java.nio.file.Files.createTempDirectory("graftgraph").toString
    GraphIndex.save(index, path)
    val loaded = GraphIndex.load(spark, path)
    assert(loaded.n == index.n && loaded.shards == index.shards)
    assert(shardsOf(loaded) == shardsOf(index))
    assert(loaded.frame.storageLevel != StorageLevel.NONE, "loaded frame not cached")
    val q = queryVec(42)
    for (ef <- Seq(0, 16)) {
      val a = index.search(q, 10, ef = ef).collect().map(r => (r.getLong(0), r.getDouble(1)))
      val b = loaded.search(q, 10, ef = ef).collect().map(r => (r.getLong(0), r.getDouble(1)))
      assert(a.sameElements(b), s"ef=$ef")
    }
    loaded.dispose()
    graft.streaming.StreamingGates.rmrf(java.nio.file.Path.of(path))
  }

  test("a loaded frame keeps its layout: the tuned search plans no exchange and no sort") {
    val path = java.nio.file.Files.createTempDirectory("graftgraphlayout").toString
    val sharded = GraphIndex.build(emb, "vec_id", "embedding", k = 8, target = 100)
    GraphIndex.save(sharded, path)
    val loaded = GraphIndex.load(spark, path)
    val df = loaded.searchBatch(block(Seq(3L, 4L)), "qid", "qv", k = 5, ef = 16)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange") && !plan.contains("Sort ["), plan)
    assert(BruteForceKnn.same(BruteForceKnn.collect(df),
      BruteForceKnn.collect(sharded.searchBatch(block(Seq(3L, 4L)), "qid", "qv", k = 5, ef = 16))))
    sharded.dispose(); loaded.dispose()
    graft.streaming.StreamingGates.rmrf(java.nio.file.Path.of(path))
  }

  test("append preserves connectivity: exact search over the union equals the flat scan") {
    val cut = 400L
    val base = GraphIndex.build(emb.where(col("vec_id") < cut), "vec_id", "embedding", k = 8,
      target = 100)
    val appended = base.append(emb.where(col("vec_id") >= cut), "vec_id", "embedding")
    val n = emb.count()
    assert(appended.n == n)
    val sizes = shardsOf(appended).values.map(_.length)
    assert(sizes.sum == n && sizes.max <= 150, s"a shard far over the target after append: $sizes")
    val queries = queriesOf(3L, 450L) // one old, one appended
    for (ef <- Seq(0, n.toInt)) {
      val viaGraph = BruteForceKnn.collect(appended.searchBatch(queries, "qid", "qv", k = 5, ef = ef))
      assert(BruteForceKnn.same(viaGraph, exact(queries, 5)), s"ef=$ef")
    }
    appended.dispose()
  }

  test("beam search visits a bounded fraction at tuned ef (not a rebadged scan)") {
    // 2,000 clustered rows in one shard: a width-16 beam scores a small
    // share of the (row, query) pairs; pairsScored counts every score
    val n = 2000
    val data = graft.tools.StructuredEmbeddings.frame(spark, n, 64, 20, sigma = 0.1, seed = 7L)
    val g = GraphIndex.build(data, "vec_id", "embedding", k = 8)
    val qs = graft.plans.KnnTopK.block(spark,
      graft.tools.StructuredEmbeddings.rows(n, 64, 20, 0.1, 7L).take(10).map { case (id, v, _) => (id, v.map(_.toDouble)) })
    val df = g.searchBatch(qs, "qid", "qv", k = 10, ef = 16)
    df.collect()
    val e = collect(df.queryExecution.executedPlan) { case x: KnnTopKExec => x }.head
    val (scored, skipped) = (e.metrics("pairsScored").value, e.metrics("probeSkipped").value)
    val pairs = n.toLong * 10
    assert(scored + skipped == pairs)
    // measured 4,150 of 20,000
    assert(scored > 0 && scored <= pairs / 3, s"scored $scored of $pairs pairs")
    g.dispose()
  }
}

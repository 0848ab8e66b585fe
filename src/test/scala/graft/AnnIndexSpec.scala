package graft

import graft.model.Manifest
import graft.vector.AnnIndex
import org.apache.spark.sql.Row
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** The facade's one vector-index slot ([[AnnIndex]]): what each effective
  * type caches, what a save/load round trip restores, that a missing
  * artifact fails loudly by name, that a single query is the batch path's
  * block of one, and that a lazily loaded IVF reads only probed cells. */
class AnnIndexSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {
  private lazy val spark = TestSpark.spark
  private def sc = spark.sparkContext

  private val dim = 8
  private val rnd = new scala.util.Random(11)
  private def vec(): Array[Float] = Array.fill(dim)(rnd.nextFloat())

  private def persisted: Set[Int] = sc.getPersistentRDDs.keySet.toSet

  private def tmpDir(tag: String): java.nio.file.Path =
    java.nio.file.Files.createTempDirectory(s"graft_annindex_$tag")

  private def rows(db: VectorDatabase, q: Array[Float], k: Int): Seq[(Long, Long, java.lang.Double)] =
    db.queryVector(q, topK = k).collect().toSeq
      .map(r => (0L, r.getLong(0), java.lang.Double.valueOf(r.getDouble(1))))

  test("ivfpq: after the first query the slot holds only the residual PQ; the training IVF is released") {
    val db = VectorDatabase.create(spark, dim, "ivfpq", ivfClusters = 4, efSearch = 10)
    db.add(Seq.tabulate(60)(i => s"doc $i"), Seq.fill(60)(vec()), None)
    db.data.count() // materialize the canonical frame's cache first
    val before = persisted
    db.queryVector(vec(), topK = 3).collect()
    val rpq = db.indexIfBuilt match {
      case Some(AnnIndex.IvfPq(r)) => r
      case other => fail(s"slot holds $other")
    }
    assert((persisted -- before).nonEmpty, "the residual codes are cached")
    // everything the first query cached belongs to the slot's index: no
    // IVF assignments frame (a float copy of the corpus) outlives the build
    rpq.dispose()
    assert((persisted -- before).isEmpty,
      s"frames outside the slot stay cached: ${persisted -- before}")
    db.close()
  }

  for (t <- Seq("ivf", "ivfpq"))
    test(s"degraded $t (2 rows, 100 clusters) holds Flat and caches no 1-cluster IVF across an add") {
      val db = VectorDatabase.create(spark, dim, t, ivfClusters = 100)
      val vs = Seq(vec(), vec())
      db.add(Seq("a", "b"), vs, None)
      db.data.count()
      val before = persisted
      assert(db.queryVector(vec(), topK = 2).collect().length == 2)
      assert(db.indexIfBuilt.contains(AnnIndex.Flat))
      assert(db.manifest.effectiveType == "flat")
      assert((persisted -- before).isEmpty, s"the degraded build cached ${persisted -- before}")
      val extra = vec()
      db.add(Seq("c"), Seq(extra), None)
      assert(db.indexIfBuilt.contains(AnnIndex.Flat), "add() must keep the degraded slot flat")
      val q = vec()
      val want = BruteForceKnn.topK((vs :+ extra).zipWithIndex.map { case (v, i) =>
        (i.toLong, v.map(_.toDouble)) }, Seq((0L, q.map(_.toDouble))), 3, BruteForceKnn.L2Sq)
      assert(BruteForceKnn.same(rows(db, q, 3), want))
      db.close()
    }

  test("save of a loaded ivfpq collection keeps the loaded residual PQ and trains no IVF") {
    val db = VectorDatabase.create(spark, dim, "ivfpq", ivfClusters = 4, efSearch = 10)
    db.add(Seq.tabulate(60)(i => s"doc $i"), Seq.fill(60)(vec()), None)
    val (p1, p2, p3) = (tmpDir("save1"), tmpDir("save2"), tmpDir("save3"))
    try {
      db.save(p1.toString)
      db.close()
      val loaded = VectorDatabase.load(spark, p1.toString)
      val rpq = loaded.indexIfBuilt match {
        case Some(AnnIndex.IvfPq(r)) => r
        case other => fail(s"slot holds $other")
      }
      // the names of the stages `body` ran ("<action> at <File>.scala:<line>")
      def stagesOf(group: String)(body: => Unit): Seq[String] = {
        def inGroup(g: String)(f: => Unit): Unit = {
          sc.setJobGroup(g, g); try f finally sc.clearJobGroup()
        }
        inGroup(group)(body)
        // status events arrive asynchronously but in order: once a later
        // marker job is visible, every job of `group` is too
        inGroup(s"$group-marker")(sc.parallelize(Seq(1), 1).count())
        val deadline = System.nanoTime() + 30L * 1000000000L
        while (sc.statusTracker.getJobIdsForGroup(s"$group-marker").isEmpty &&
               System.nanoTime() < deadline) Thread.sleep(10)
        for (j <- sc.statusTracker.getJobIdsForGroup(group).toSeq.sorted;
             job <- sc.statusTracker.getJobInfo(j).toSeq;
             s <- job.stageIds.toSeq.sorted;
             stage <- sc.statusTracker.getStageInfo(s).toSeq) yield stage.name
      }
      val first = stagesOf("annindex-save-first")(loaded.save(p2.toString))
      assert(first.nonEmpty)
      assert(!first.exists(_.contains("IVFIndex")), s"save trained an IVF: $first")
      assert(loaded.indexIfBuilt.exists { case AnnIndex.IvfPq(r) => r eq rpq; case _ => false },
        "save replaced the loaded residual PQ")
      // and the first save costs what a repeat save costs
      val again = stagesOf("annindex-save-again")(loaded.save(p3.toString))
      assert(first.length == again.length, s"first save ran $first, a repeat save $again")
      val reloaded = VectorDatabase.load(spark, p2.toString)
      val q = vec()
      assert(BruteForceKnn.same(rows(reloaded, q, 5), rows(loaded, q, 5)))
      reloaded.close(); loaded.close()
    } finally Seq(p1, p2, p3).foreach(graft.streaming.StreamingGates.rmrf)
  }

  test("load names every missing artifact each index type reads") {
    val table = Seq(
      "ivf" -> Seq("index/centroids", "index/assignments"),
      "ivfpq" -> Seq("index/pq/codes", "index/pq/codebooks", "index/pq/centroids"),
      "pq" -> Seq("index/pq/codes", "index/pq/codebooks"),
      "lsh" -> Seq("index/lsh/hashed", "index/lsh/planes"),
      "graph" -> Seq("index/graph/edges", "index/graph/vectors", "index/graph/params"))
    for ((t, artifacts) <- table) {
      val db = VectorDatabase.create(spark, dim, t, ivfClusters = 4)
      db.add(Seq.tabulate(40)(i => s"doc $i"), Seq.fill(40)(vec()), None)
      for (a <- artifacts; lazyIndexes <- if (t == "ivf") Seq(false, true) else Seq(false)) {
        val p = tmpDir("missing")
        try {
          db.save(p.toString)
          assert(db.manifest.effectiveType == t)
          graft.streaming.StreamingGates.rmrf(p.resolve(a))
          val e = intercept[IllegalStateException](
            VectorDatabase.load(spark, p.toString, lazyIndexes))
          assert(e.getMessage.contains(s"$p/$a"), s"[$t lazy=$lazyIndexes] ${e.getMessage}")
        } finally graft.streaming.StreamingGates.rmrf(p)
      }
      db.close()
    }
  }

  /** Types whose configured efSearch takes an exact escape hatch: ivf and
    * ivfpq at efSearch ≥ 10·nlist, the graph at efSearch ≥ n. */
  private val exactHatch = Set("flat", "ivf", "ivfpq", "graph", "hnsw")

  for (t <- Manifest.knownTypes.toSeq.sorted)
    test(s"[$t] lifecycle: create → add → query → save → load → add → save → load → query") {
      val nlist = 4
      val efSearch = t match {
        case "ivf" | "ivfpq" => 10 * nlist
        case "graph" | "hnsw" => 100000
        case _ => 50
      }
      val corpus = scala.collection.mutable.ArrayBuffer.empty[(Long, Array[Double])]
      def add(db: VectorDatabase, n: Int): Unit = {
        val vs = Seq.fill(n)(vec())
        db.add(vs.indices.map(i => s"doc ${corpus.length + i}"), vs, None)
        vs.foreach(v => corpus += ((corpus.length.toLong, v.map(_.toDouble))))
      }
      val qs = Seq.fill(2)(vec())
      def answers(db: VectorDatabase): Seq[Seq[(Long, Long, java.lang.Double)]] =
        qs.map(q => rows(db, q, 5))
      def check(db: VectorDatabase, step: String): Unit =
        if (exactHatch(t)) answers(db).zip(qs).foreach { case (got, q) =>
          val want = BruteForceKnn.topK(corpus.toSeq, Seq((0L, q.map(_.toDouble))), 5,
            BruteForceKnn.L2Sq)
          assert(BruteForceKnn.same(got, want), s"[$t] $step: $got != $want")
        }
      // a loaded collection reads its files lazily: keep them to the end
      val dirs = scala.collection.mutable.ArrayBuffer.empty[java.nio.file.Path]
      def reload(db: VectorDatabase, step: String): VectorDatabase = {
        val p = tmpDir(t)
        dirs += p
        db.save(p.toString)
        check(db, s"$step save")
        val loaded = VectorDatabase.load(spark, p.toString)
        assert(loaded.count == db.count && loaded.manifest == db.manifest)
        check(loaded, s"$step load")
        // pq and lsh have no exact hatch here: the loaded collection
        // answers as the live one did
        assert(answers(loaded).zip(answers(db)).forall { case (a, b) => BruteForceKnn.same(a, b) },
          s"[$t] $step: loaded answers differ from the live collection")
        db.close()
        loaded
      }
      try {
        val db0 = VectorDatabase.create(spark, dim, t, ivfClusters = nlist, efSearch = efSearch)
        check(db0, "create")
        add(db0, 40)
        check(db0, "add")
        val db1 = reload(db0, "first")
        add(db1, 10)
        check(db1, "post-load add")
        val db2 = reload(db1, "second")
        assert(db2.count == 50)
        check(db2, "final")
        db2.close()
      } finally dirs.foreach(graft.streaming.StreamingGates.rmrf)
    }

  private def withShufflePartitions[T](n: Int)(f: => T): T = {
    val key = "spark.sql.shuffle.partitions"
    val prev = spark.conf.get(key)
    spark.conf.set(key, n.toString)
    try f finally spark.conf.set(key, prev)
  }

  /** `queryVector` as (qid, id, score) rows. */
  private def single(db: VectorDatabase, qid: Long, q: Array[Float], k: Int,
                     pre: Option[org.apache.spark.sql.Column]): Seq[(Long, Long, java.lang.Double)] =
    db.queryVector(q, topK = k, preFilter = pre).collect().toSeq
      .map(r => (qid, r.getLong(0), java.lang.Double.valueOf(r.getDouble(1))))

  private val bulkSchema = StructType(Seq(StructField("id", LongType, nullable = false),
    StructField("doc", StringType), StructField("vector", ArrayType(FloatType, containsNull = false))))

  for (t <- Manifest.knownTypes.toSeq.sorted)
    test(s"[$t] single == batch; exact configs == brute force at partitions {1,3,7} x shuffle {1,7}") {
      val (n, k, nlist) = (48, 5, 4)
      val local = new scala.util.Random(t.hashCode)
      def v(): Array[Float] = Array.fill(dim)(local.nextFloat())
      val rows = (0 until n).map(i => (i.toLong, v()))
      val corpus = rows.map { case (id, x) => (id, x.map(_.toDouble)) }
      // one query on a corpus vector (a distance-0 hit), two off it
      val qs = Seq(rows(5)._2, v(), v())
      val filters = Seq(None -> ((_: Long) => true),
        Some(col("id") % 3 =!= 0) -> ((id: Long) => id % 3 != 0))
      val tuned = t match {
        case "ivf" | "ivfpq" => 10 // nprobe 1 of 4; 4 of 4 under a filter
        case "graph" | "hnsw" => 8 // a beam of k ≪ n; 4·k under a filter
        case _ => 50
      }
      // the exact escape hatches, where a type has one
      val exactEf = t match {
        case "ivf" | "ivfpq" => Some(10 * nlist)
        case "graph" | "hnsw" => Some(n)
        case "flat" => Some(tuned)
        case _ => None
      }
      for (sp <- Seq(1, 7); parts <- Seq(1, 3, 7)) withShufflePartitions(sp) {
        val at = s"[$t] parts=$parts sp=$sp"
        val db = VectorDatabase.create(spark, dim, t, ivfClusters = nlist, efSearch = tuned)
        db.addBulkWithIds(spark.createDataFrame(sc.parallelize(rows.map { case (id, x) =>
          Row(id, s"doc $id", x.toSeq) }, parts), bulkSchema), "doc", "vector", None, "id")
        assert(db.data.rdd.getNumPartitions == parts, at)
        for ((pre, _) <- filters) {
          val singles = qs.indices.map(j => single(db, j.toLong, qs(j), k, pre))
          val index = db.indexIfBuilt.getOrElse(fail(s"$at: no index after a query"))
          val batch = BruteForceKnn.collect(index.searchBatch(db.data, db.count, db.manifest,
            qs.indices.map(j => (j.toLong, qs(j).map(_.toDouble))), k, pre))
          for (j <- qs.indices) {
            val want = batch.filter(_._1 == j)
            assert(want.length == k, s"$at pre=$pre q$j: batch gave $want")
            assert(BruteForceKnn.same(singles(j), want),
              s"$at pre=$pre q$j: single ${singles(j)} != batch $want")
          }
        }
        db.indexIfBuilt match {
          case Some(AnnIndex.Pq(pq)) =>
            val codes = BruteForceKnn.adcRows(pq.codes)
            for ((pre, keep) <- filters; j <- qs.indices) {
              val want = BruteForceKnn.topK(codes.filter(r => keep(r._1)),
                Seq((j.toLong, qs(j).map(_.toDouble))), k, BruteForceKnn.Adc(pq.codebooks, Map.empty))
              assert(BruteForceKnn.same(single(db, j.toLong, qs(j), k, pre), want), s"$at pre=$pre q$j")
            }
          case _ =>
        }
        exactEf.foreach { ef =>
          db.setEf(ef)
          for ((pre, keep) <- filters; j <- qs.indices) {
            val want = BruteForceKnn.topK(corpus.filter(r => keep(r._1)),
              Seq((j.toLong, qs(j).map(_.toDouble))), k, BruteForceKnn.L2Sq)
            assert(BruteForceKnn.same(single(db, j.toLong, qs(j), k, pre), want),
              s"$at efSearch=$ef pre=$pre q$j")
          }
        }
        db.close()
      }
    }

  test("lazy ivf: queryVector and the hybrid probe arm read only the probed cluster directories") {
    import spark.implicits._
    val nlist = 8
    val local = new scala.util.Random(5)
    val vs = Seq.fill(80)(Array.fill(dim)(local.nextFloat()))
    // efSearch 10 → nprobe 1 of 8
    val db = VectorDatabase.create(spark, dim, "ivf", ivfClusters = nlist, efSearch = 10)
    db.add(vs.indices.map(i => s"doc $i"), vs, None)
    val p = tmpDir("prune")
    try {
      db.save(p.toString)
      db.close()
      // the eager load caches the same parquet read, which a later lazy
      // read would then hit: measure the lazy load before it exists
      val lazyDb = VectorDatabase.load(spark, p.toString, lazyIndexes = true)
      val ivf = lazyDb.indexIfBuilt match {
        case Some(AnnIndex.Ivf(i)) => i
        case other => fail(s"slot holds $other")
      }
      assert(ivf.nlist == nlist)
      def probed(qs: Seq[Array[Float]]): Set[Int] =
        qs.map(q => ivf.probeOrder(q.map(_.toDouble)).head).toSet
      // the cluster directories each assignments scan of `body` opened
      def partitionsRead(body: => Unit): Seq[Long] =
        SparkProbe.plans(body).flatMap(plan => collect(plan) {
          case s: FileSourceScanExec
              if s.relation.location.rootPaths.exists(_.toString.endsWith("assignments")) =>
            s.metrics("numPartitions").value
        })
      val q = vs(5)
      assert(partitionsRead(lazyDb.queryVector(q, 3).collect()) == Seq(probed(Seq(q)).size.toLong))
      def pairs(db: VectorDatabase) =
        db.queryVector(q, 3).collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq

      val block = Seq(3, 17, 42).map(vs)
      val cells = probed(block)
      assert(cells.size < nlist, s"the block probes every cell: $cells")
      val qdf = block.zipWithIndex.map { case (v, j) => (j.toLong, s"doc ${j * 7}", v.map(_.toDouble).toSeq) }
        .toDF("qid", "qtext", "qv")
      def hybrid(db: VectorDatabase) =
        db.hybridSearchBatch(qdf, "qid", "qtext", "qv", topK = 3, exactThreshold = 0L).collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
      assert(partitionsRead(hybrid(lazyDb)) == Seq(cells.size.toLong))
      val (lazyPairs, lazyHybrid) = (pairs(lazyDb), hybrid(lazyDb))
      val eager = VectorDatabase.load(spark, p.toString)
      assert(lazyPairs == pairs(eager))
      assert(lazyHybrid == hybrid(eager))
      eager.close(); lazyDb.close()
    } finally graft.streaming.StreamingGates.rmrf(p)
  }
}

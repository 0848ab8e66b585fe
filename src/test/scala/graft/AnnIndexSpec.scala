package graft

import graft.model.Manifest
import graft.vector.AnnIndex
import org.scalatest.funsuite.AnyFunSuite

/** The facade's one vector-index slot ([[AnnIndex]]): what each effective
  * type caches, what a save/load round trip restores, and that a missing
  * artifact fails loudly by name. */
class AnnIndexSpec extends AnyFunSuite {
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
}

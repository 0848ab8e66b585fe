package graft

import graft.vector.{AnnIndex, ExactKNN, IVFIndex, LSHIndex, PQIndex, ResidualPQ}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Incremental index maintenance on add() (r4 VERDICT next-round #1; ≙ the
  * reference adding to a LIVE hnsw index with explicit ids — `add_items`,
  * local_db.py:78–80, pinned by test_local_db.py:79–96): an existing
  * IVF/LSH/PQ index adopts an appended batch through its EXISTING quantizer
  * — provably no retraining (same centroid/plane/codebook OBJECTS across
  * the add) — and answers queries from the updated index. */
class IncrementalAddSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val dim = 8
  private val rnd = new scala.util.Random(7)
  private def vec(): Array[Float] = Array.fill(dim)(rnd.nextFloat())
  private def mkDb(indexType: String, n: Int, nlist: Int = 4): VectorDatabase = {
    val db = VectorDatabase.create(spark, dim, indexType,
      ivfClusters = nlist, efSearch = 10 * nlist)
    db.add(Seq.tabulate(n)(i => s"doc $i"), Seq.fill(n)(vec()), None)
    db
  }

  // the collection's one index slot, narrowed to the case each test built
  private def ivfOf(db: VectorDatabase): Option[IVFIndex] =
    db.indexIfBuilt.collect { case AnnIndex.Ivf(i) => i }
  private def lshOf(db: VectorDatabase): Option[LSHIndex] =
    db.indexIfBuilt.collect { case AnnIndex.Lsh(i) => i }
  private def rpqOf(db: VectorDatabase): Option[ResidualPQ] =
    db.indexIfBuilt.collect { case AnnIndex.IvfPq(i) => i }
  private def pqOf(db: VectorDatabase): Option[PQIndex] =
    db.indexIfBuilt.collect { case AnnIndex.Pq(i) => i }

  /** Exact brute-force over the live canonical frame — the truth the
    * exact-recoverable probe must reproduce after the add. */
  private def bruteForce(db: VectorDatabase, q: Array[Float], k: Int): Seq[(Long, Double)] =
    ExactKNN.topK(db.data, "id", "vector", q.map(_.toDouble), k)
      .orderBy(col("score").desc, col("id").asc)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq

  test("ivf: add() keeps the trained centroids (no Lloyd), adopts the batch, answers exactly") {
    val db = mkDb("ivf", 60)
    db.queryVector(vec(), topK = 3).collect() // force the lazy IVF build
    val before = ivfOf(db).get
    val centroidsBefore = before.centroids
    val batch = Seq.fill(10)(vec())
    db.add(Seq.tabulate(10)(i => s"new $i"), batch, None)
    val after = ivfOf(db)
    assert(after.isDefined, "add() must maintain the index, not invalidate it")
    assert(after.get.centroids eq centroidsBefore,
      "add() retrained the coarse quantizer — incremental maintenance must reuse it")
    assert(after.get.assignments.count() == 70)
    // exact-recoverable probe (efSearch = 10·nlist ⇒ nprobe = nlist): the
    // updated index must reproduce brute force over old ∪ new rows
    val q = batch(3)
    val got = db.queryVector(q, topK = 5).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(got == bruteForce(db, q, 5))
    assert(got.head._1 == 63L, "the appended vector itself must rank first")
  }

  test("ivf: appended rows land in their nearest existing cluster") {
    val db = mkDb("ivf", 60)
    db.queryVector(vec(), topK = 1).collect()
    val idx0 = ivfOf(db).get
    db.add(Seq("a"), Seq(vec()), None)
    val idx = ivfOf(db).get
    val centers = idx.centroids.sortBy(_._1).map(_._2)
    val row = idx.assignments.where(col("id") === 60L).head()
    val v = row.getSeq[Float](row.fieldIndex("vector")).map(_.toDouble).toArray
    val want = centers.zipWithIndex.minBy { case (c, _) =>
      c.zip(v).map { case (a, b) => (a - b) * (a - b) }.sum
    }._2
    assert(row.getInt(row.fieldIndex("cluster")) == want)
    assert(idx0.centroids eq idx.centroids)
  }

  test("dense ids continue across save → load → add; loaded ivf adopts the batch") {
    val db = mkDb("ivf", 60)
    val tmp = java.nio.file.Files.createTempDirectory("graft_incadd_spec")
    try {
      db.save(tmp.toString) // forces the build; persists centroids + assignments
      db.close()
      val loaded = VectorDatabase.load(spark, tmp.toString)
      assert(loaded.count == 60)
      val centroidsLoaded = ivfOf(loaded).get.centroids
      val batch = Seq.fill(5)(vec())
      loaded.add(Seq.tabulate(5)(i => s"post-load $i"), batch, None)
      assert(loaded.count == 65)
      assert(loaded.getDocument(60L).contains("post-load 0"))
      assert(loaded.getDocument(64L).contains("post-load 4"))
      assert(ivfOf(loaded).get.centroids eq centroidsLoaded,
        "add() on a loaded collection must reuse the persisted centroids")
      val q = batch(2)
      val got = loaded.queryVector(q, topK = 3).collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(got == bruteForce(loaded, q, 3))
      loaded.close()
    } finally graft.streaming.StreamingGates.rmrf(tmp)
  }

  test("lazy-loaded ivf: facade probe prunes partitions; add() appends without rebuild") {
    val db = mkDb("ivf", 60)
    val tmp = java.nio.file.Files.createTempDirectory("graft_incadd_lazy")
    try {
      db.save(tmp.toString)
      db.close()
      val lazyDb = VectorDatabase.load(spark, tmp.toString, lazyIndexes = true)
      // nlist from the manifest, not the persisted centroid count (r4 ADVICE)
      assert(ivfOf(lazyDb).get.nlist == lazyDb.manifest.ivfClusters)
      // an approximate probe (nprobe < nlist) through the FACADE must reach
      // the parquet scan as a partition filter — the 100 TB read path
      val lazyIvf = ivfOf(lazyDb).get
      assert(lazyIvf.nlist > 2)
      assert(SparkProbe.partitionsRead("assignments")(
        lazyIvf.search(vec().map(_.toDouble), k = 3, nprobe = 2).collect()) == Seq(2L),
        "the lazy probe read unprobed cluster directories")
      val centroidsBefore = ivfOf(lazyDb).get.centroids
      val batch = Seq.fill(4)(vec())
      lazyDb.add(Seq.tabulate(4)(i => s"lazy $i"), batch, None)
      assert(ivfOf(lazyDb).get.centroids eq centroidsBefore)
      val q = batch(1)
      val got = lazyDb.queryVector(q, topK = 3).collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(got == bruteForce(lazyDb, q, 3))
      lazyDb.close()
    } finally graft.streaming.StreamingGates.rmrf(tmp)
  }

  test("lsh: add() keeps the hyperplanes, widens maxNorm, finds appended rows exactly") {
    val db = mkDb("lsh", 60)
    db.queryVector(vec(), topK = 3).collect() // force the lazy LSH build
    val planesBefore = lshOf(db).get.hyperplanes
    val normBefore = lshOf(db).get.maxNorm
    // a deliberately out-of-range vector: maxNorm must widen to cover it,
    // or the exact-probe radius would silently miss it
    val big = Array.fill(dim)(3f)
    db.add(Seq("big"), Seq(big), None)
    val idx = lshOf(db).get
    assert(idx.hyperplanes eq planesBefore,
      "add() must hash with the existing hyperplanes, not re-derive them")
    assert(idx.maxNorm >= math.sqrt(dim * 9.0) - 1e-9 && idx.maxNorm > normBefore)
    assert(idx.hashed.count() == 61)
    val got = idx.search(big.map(_.toDouble), k = 1, exact = true).collect()
    assert(got.head.getLong(0) == 60L)
  }

  test("hnsw hyperparameters map to real knobs: M -> LSH tables, efConstruction -> refine passes") {
    // m → numHashTables, observable on the built index
    val db = VectorDatabase.create(spark, dim, "lsh", m = 2)
    db.add(Seq.tabulate(10)(i => s"d$i"), Seq.fill(10)(vec()), None)
    db.queryVector(vec(), topK = 2).collect()
    assert(lshOf(db).get.hyperplanes.length == 2)
    // efConstruction → bounded Lloyd refinement schedule
    assert(AnnIndex.refineItersFor(0) == 0)
    assert(AnnIndex.refineItersFor(199) == 0)
    assert(AnnIndex.refineItersFor(200) == 1)
    assert(AnnIndex.refineItersFor(450) == 2)
    assert(AnnIndex.refineItersFor(5000) == 3)
  }

  test("ivfpq: add() keeps the residual codebooks + coarse centroids, encodes only the batch") {
    val db = mkDb("ivfpq", 60) // efSearch = 10·nlist ⇒ the exact hatch
    db.queryVector(vec(), topK = 3).collect() // force IVF + residual-PQ builds
    val booksBefore = rpqOf(db).get.codebooks
    val coarseBefore = rpqOf(db).get.centroids
    val batch = Seq.fill(8)(vec())
    db.add(Seq.tabulate(8)(i => s"pq $i"), batch, None)
    assert(rpqOf(db).get.codebooks eq booksBefore,
      "add() retrained the residual codebooks — incremental maintenance must reuse them")
    assert(rpqOf(db).get.centroids eq coarseBefore,
      "add() replaced the coarse quantizer — the trained centroids must stay fixed")
    assert(rpqOf(db).get.codes.count() == 68)
    // the exact hatch stays exact over the union: appended rows carry a
    // valid per-row err bound regardless of quantizer fit
    val q = batch(3)
    val got = db.queryVector(q, topK = 5).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(got == bruteForce(db, q, 5))
    assert(got.head._1 == 63L, "the appended vector itself must rank first")
  }

  test("pq: add() keeps the raw codebooks, encodes only the batch") {
    val db = mkDb("pq", 60)
    db.queryVector(vec(), topK = 3).collect() // force the raw PQ build
    val booksBefore = pqOf(db).get.codebooks
    db.add(Seq.tabulate(8)(i => s"pq $i"), Seq.fill(8)(vec()), None)
    assert(pqOf(db).get.codebooks eq booksBefore,
      "add() retrained the PQ codebooks — incremental maintenance must reuse them")
    assert(pqOf(db).get.codes.count() == 68)
    // the flat ADC scan runs over the updated codes and returns k rows
    val r = db.queryVector(vec(), topK = 5).collect()
    assert(r.length == 5)
  }
}

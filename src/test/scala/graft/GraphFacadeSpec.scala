package graft

import graft.vector.{AnnIndex, GraphIndex}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The opt-in 'graph' facade type (round 6): the REAL navigable-graph
  * index behind the reference's 11-method API. efSearch ≥ corpus is the
  * exact escape hatch, so every pin below compares against the flat
  * collection bit for bit. */
class GraphFacadeSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  private def corpus(n: Int) = {
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
      .where(col("vec_id") < n).orderBy(col("vec_id")).collect()
    emb.map(r => (s"doc ${r.getLong(0)}",
      r.getSeq[Float](1).toArray))
  }

  private def build(indexType: String, n: Int = 60,
                    efSearch: Int = 100000): VectorDatabase = {
    val db = VectorDatabase.create(spark, 64, indexType, efSearch = efSearch)
    val rows = corpus(n)
    db.add(rows.map(_._1).toSeq, rows.map(_._2).toSeq)
    db
  }

  private def graphOf(db: VectorDatabase): Option[GraphIndex] =
    db.indexIfBuilt.collect { case AnnIndex.Graph(g) => g }

  test("create accepts 'graph'; repr shows the effective type") {
    val db = VectorDatabase.create(spark, 64, "graph")
    assert(db.toString.contains("index_type=graph"))
    db.close()
  }

  test("queryVector at the exact escape hatch equals the flat collection") {
    val g = build("graph"); val f = build("flat")
    try {
      val q = corpus(60)(7)._2
      val a = g.queryVector(q, topK = 10).collect().map(r => (r.getLong(0), r.getDouble(1)))
      val b = f.queryVector(q, topK = 10).collect().map(r => (r.getLong(0), r.getDouble(1)))
      assert(a.sameElements(b))
    } finally { g.close(); f.close() }
  }

  test("pre/post filters compose with the graph traversal (filtered-ANN contract)") {
    val g = build("graph"); val f = build("flat")
    try {
      val q = corpus(60)(3)._2
      val pre = Some(col("id") % 2 === 0)
      val a = g.queryVector(q, topK = 5, preFilter = pre).collect().map(_.getLong(0))
      val b = f.queryVector(q, topK = 5, preFilter = pre).collect().map(_.getLong(0))
      assert(a.sameElements(b))
      val post = Some(col("id") < 30)
      val c = g.queryVector(q, topK = 5, postFilter = post).collect().map(_.getLong(0))
      val d = f.queryVector(q, topK = 5, postFilter = post).collect().map(_.getLong(0))
      assert(c.sameElements(d))
    } finally { g.close(); f.close() }
  }

  test("save/load roundtrip: graph artifacts persist and answer identically") {
    val g = build("graph")
    val tmp = java.nio.file.Files.createTempDirectory("graftgraphfacade").toString
    try {
      g.save(tmp)
      val loaded = VectorDatabase.load(spark, tmp)
      assert(graphOf(loaded).isDefined, "graph index not rehydrated on load")
      val q = corpus(60)(11)._2
      val a = g.queryVector(q, topK = 8).collect().map(r => (r.getLong(0), r.getDouble(1)))
      val b = loaded.queryVector(q, topK = 8).collect().map(r => (r.getLong(0), r.getDouble(1)))
      assert(a.sameElements(b))
      loaded.close()
    } finally {
      g.close()
      graft.streaming.StreamingGates.rmrf(java.nio.file.Path.of(tmp))
    }
  }

  test("tuned beam (efSearch < corpus): honest scores, deterministic recall floor") {
    val g = build("graph", efSearch = 16); val f = build("flat")
    try {
      val q = corpus(60)(7)._2
      val a = g.queryVector(q, topK = 5).collect().map(r => (r.getLong(0), r.getDouble(1)))
      // the whole flat ranking: every tuned hit must carry its TRUE score
      val full = f.queryVector(q, topK = 60).collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toMap
      assert(a.length == 5)
      assert(a.map(_._2).sameElements(a.map(_._2).sorted(Ordering[Double].reverse)))
      a.foreach { case (id, s) => assert(full(id) == s, s"id $id scored $s != flat ${full(id)}") }
      // deterministic traversal (fixed entry, graph, beam) ⇒ a fixed
      // recall; floor it rather than pin exact ids so graph-build
      // refinements don't churn the spec
      val exact = f.queryVector(q, topK = 5).collect().map(_.getLong(0)).toSet
      val recall = a.map(_._1).count(exact) / 5.0
      assert(recall >= 0.6, s"recall@5 $recall below floor")
    } finally { g.close(); f.close() }
  }

  test("low efConstruction (approximate edges) cannot break the exact escape hatch") {
    // efConstruction has no graph meaning (edges are exact within a
    // shard); the escape hatch is the exact scan whatever it is set to
    val g = VectorDatabase.create(spark, 64, "graph",
      efConstruction = 25, efSearch = 100000)
    val rows = corpus(60)
    g.add(rows.map(_._1).toSeq, rows.map(_._2).toSeq)
    val f = build("flat")
    try {
      val q = corpus(60)(19)._2
      val a = g.queryVector(q, topK = 10).collect().map(r => (r.getLong(0), r.getDouble(1)))
      val b = f.queryVector(q, topK = 10).collect().map(r => (r.getLong(0), r.getDouble(1)))
      assert(a.sameElements(b))
    } finally { g.close(); f.close() }
  }

  test("add() after first query maintains the graph incrementally (no rebuild)") {
    val db = build("graph", n = 40)
    try {
      db.queryVector(corpus(40)(1)._2, topK = 3) // forces the graph build
      val before = graphOf(db).get
      val extra = corpus(60).drop(40)
      db.add(extra.map(_._1).toSeq, extra.map(_._2).toSeq)
      val after = graphOf(db).get
      assert(after ne before, "append must produce a new chained index")
      assert(after.n == 60)
      // exact escape hatch still exact over the appended union
      val q = corpus(60)(55)._2
      val f = build("flat")
      val a = db.queryVector(q, topK = 10).collect().map(r => (r.getLong(0), r.getDouble(1)))
      val b = f.queryVector(q, topK = 10).collect().map(r => (r.getLong(0), r.getDouble(1)))
      assert(a.sameElements(b))
      f.close()
    } finally db.close()
  }
}

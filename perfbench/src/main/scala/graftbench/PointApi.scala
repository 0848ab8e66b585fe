package graftbench

import graft.VectorDatabase
import graft.text.BM25
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import scala.collection.mutable

/** Reference-style single calls on small flat, ivfpq and hnsw collections,
  * then small `add` batches into the ivfpq collection (BM25 live), each
  * followed by queryVector, queryText and hybridSearch on the grown
  * collection. Each call is small, so driver planning, job count and the
  * graph's per-hop jobs dominate; the appends exercise the write path
  * beside the reads. */
final class PointApi(spark: SparkSession, gen: Gen) extends Part {
  import PointApi._

  private val cs = gen.mixtureModel(16, dim, 11)
  val vecs: Array[Array[Float]] = gen.mixture(rows, cs, 0.45, 12)
  val docs: Array[String] = gen.docs(rows, vocab, 8, 24, 13)
  val metas: Array[Map[String, Any]] = gen.metas(rows, 14)
  val qVecs: Array[Array[Float]] = gen.mixture(pool, cs, 0.45, 15)
  val qTexts: Array[String] = gen.queryTexts(pool, vocab, 16)
  val corpus: DataFrame = Common.corpusFrame(spark, docs, vecs, metas)
  private def collection(kind: String, n: Int = rows): VectorDatabase = {
    val db = VectorDatabase.create(spark, dim, kind, ivfClusters = clusters)
    db.addBulkWithIds(corpus.where(col("id") < n), "doc", "vector", Some("meta"), "id")
    db
  }
  val flat: VectorDatabase = collection("flat")
  val ivfpq: VectorDatabase = collection("ivfpq")
  // the graph index costs a job per hop per call, so its collection is the
  // first `graphRows` rows of the corpus
  val hnsw: VectorDatabase = collection("hnsw", graphRows)
  // indexes build lazily on their first call; these first calls are the builds
  private val q0 = qVecs(0)
  private val rpqS = Common.timeS(ivfpq.queryVector(q0, k).collect())._2
  private val graphS = Common.timeS(hnsw.queryVector(q0, k).collect())._2
  flat.queryText(qTexts(0), k).collect(); ivfpq.queryText(qTexts(0), k).collect()
  val (bm25, bm25S) = Common.timeS(BM25.build(corpus, "id", "doc"))
  val builds: Map[String, Double] = Map(
    "vector.rpq_build_s" -> rpqS, "vector.graph_build_s" -> graphS, "text.bm25_build_s" -> bm25S)

  // the benchmark's mirror of the ivfpq collection, which grows by appends
  private val grown = mutable.ArrayBuffer.from(vecs)
  private val grownMetas = mutable.ArrayBuffer.from(metas)
  private lazy val refBm = { val r = new Ref.BM25; docs.foreach(r.add); r }
  private lazy val grownBm = { val r = new Ref.BM25; docs.foreach(r.add); r }
  private var n = 0

  private def hitsOf(df: DataFrame): Array[Ref.Hit] =
    df.select("id", "score").collect().map(r => (r.getLong(0), r.getDouble(1)))
  private def trueScore(vs: scala.collection.Seq[Array[Float]], q: Array[Float])(id: Long): Option[Double] =
    if (id < 0 || id >= vs.length) None else Some(Ref.score(Ref.sqL2(vs(id.toInt), q)))
  private def catFilter(db: VectorDatabase, c: String): Column = db.metaValue("cat") === lit(Json.str(c))
  private def textCheck(bm: Ref.BM25, text: String)(g: Array[Ref.Hit]): Boolean =
    Ref.sameTopK(g, bm.topKDense(text, k), i => Some(bm.scores(text).getOrElse(i, 0.0)))
  private def approx(h: Harness, g: Array[Ref.Hit], exact: Array[Ref.Hit], size: Int): Boolean = {
    h.recalls += Ref.recall(g.map(_._1), exact.map(_._1))
    Ref.wellFormed(g, k, size)
  }

  def cycle(h: Harness, i: Int): Unit = {
    val q = qVecs(n % pool); val text = qTexts(n % pool)
    val cat = "c" + (n % gen.categories)
    val id = (n * 7919L) % rows
    n += 1
    def catIds(ms: scala.collection.Seq[Map[String, Any]]) = ms.indices.filter(j => ms(j)("cat") == cat).toArray
    val exact = Ref.knn(vecs, q, k)
    val exactGraph = Ref.knn(vecs, q, k, Some((0 until graphRows).toArray))
    val exactCat = Ref.knn(vecs, q, k, Some(catIds(metas)))

    h.call("facade.queryVector.flat", "calls", 1)(hitsOf(flat.queryVector(q, k)))(
      Ref.sameTopK(_, exact, trueScore(vecs, q)))
    h.call("facade.queryVector.flat", "calls", 1)(
      hitsOf(flat.queryVector(q, k, preFilter = Some(catFilter(flat, cat)))))(
      Ref.sameTopK(_, exactCat, trueScore(vecs, q)))
    val g0 = grown.toArray
    h.call("facade.queryVector.ivfpq", "calls", 1)(hitsOf(ivfpq.queryVector(q, k)))(
      g => g.length == k && approx(h, g, Ref.knn(g0, q, k), g0.length))
    val allowed = catIds(grownMetas)
    h.call("facade.queryVector.ivfpq", "calls", 1)(
      hitsOf(ivfpq.queryVector(q, k, preFilter = Some(catFilter(ivfpq, cat))))) { g =>
      val ok = allowed.toSet
      approx(h, g, Ref.knn(g0, q, k, Some(allowed)), g0.length) && g.forall(x => ok(x._1.toInt))
    }
    h.call("facade.queryVector.hnsw", "calls", 1)(hitsOf(hnsw.queryVector(q, k))) { g =>
      g.length == k && approx(h, g, exactGraph, graphRows) &&
        g.forall { case (j, sc) => trueScore(vecs, q)(j).exists(t => math.abs(t - sc) <= Ref.Tol) }
    }
    h.call("facade.queryText", "calls", 1)(hitsOf(flat.queryText(text, k)))(textCheck(refBm, text))
    h.call("text.bm25_score", "calls", 1)(
      hitsOf(bm25.score(text).orderBy(col("score").desc, col("id").asc).limit(k)))(textCheck(refBm, text))
    val fused = Ref.hybridScores(refBm, vecs, text, q, k)
    h.call("facade.hybridSearch", "calls", 1)(hitsOf(flat.hybridSearch(text, q, k)))(
      Ref.sameTopK(_, Ref.hybrid(fused, k), fused.get))
    val cond = Map[String, Any]("cat" -> cat, "flag" -> (n % 2 == 0))
    h.call("facade.queryMetadata", "calls", 1)(flat.queryMetadata(cond).collect().map(_.getLong(0))) {
      got => got.toSeq == metas.indices.filter(j =>
        metas(j)("cat") == cond("cat") && metas(j)("flag") == cond("flag")).map(_.toLong)
    }
    h.call("facade.getDocument", "calls", 1)(flat.getDocument(id))(_.contains(docs(id.toInt)))

    // one append per cycle, up to `maxAppends` per run: the engine runs
    // the driver out of heap at about the seventh append
    if (i < maxAppends) {
      val stream = 1000 + 10 * i
      val d = gen.docs(batch, vocab, 8, 24, stream)
      val v = gen.mixture(batch, cs, 0.45, stream + 1)
      val m = gen.metas(batch, stream + 2)
      val before = ivfpq.count
      h.call("facade.add", "rows", batch)(ivfpq.add(d.toSeq, v.toSeq, Some(m.toSeq)))(
        _ => ivfpq.count == before + batch)
      grown ++= v; grownMetas ++= m; d.foreach(grownBm.add)
    }
    val g1 = grown.toArray
    val (qa, ta) = (qVecs(n % pool), qTexts(n % pool))
    h.call("facade.queryVector.ivfpq", "calls", 1)(hitsOf(ivfpq.queryVector(qa, k)))(
      g => g.length == k && approx(h, g, Ref.knn(g1, qa, k), g1.length))
    h.call("facade.queryText", "calls", 1)(hitsOf(ivfpq.queryText(ta, k)))(textCheck(grownBm, ta))
    h.call("facade.hybridSearch", "calls", 1)(hitsOf(ivfpq.hybridSearch(ta, qa, k)))(
      g => Ref.wellFormed(g, k, g1.length) && g.forall(_._2 > 0))
    // last timed append over the first: growth of the write path
    val adds = h.samples.filter(_.name == "facade.add")
    if (adds.length >= 2) h.extras("facade.add_growth") = adds.last.ms / adds.head.ms
  }
}

object PointApi {
  val rows = 1500
  val graphRows = 600
  val dim = 64
  val vocab = 2000
  val clusters = 32
  val k = 10
  val pool = 256
  val maxAppends = 5
  val batch = 25
}

package graftbench

import graft.dedup.Dedup
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel

import scala.collection.mutable

/** A seeded corpus with planted near-duplicates of known 3-gram Jaccard
  * pushed through the dedup pipeline: MinHash pairs then connected
  * components; incremental Jaccard pairs of incoming batches against an
  * index of the older docs (built at set-up); semantic drop over the
  * embeddings. Its shuffles are unlike the broadcast-heavy search paths. */
final class DedupPipeline(spark: SparkSession, gen: Gen) extends Part {
  import DedupPipeline._

  val (docs, pairs) = gen.dedupCorpus(base, planted, 3000, 40, 51)
  val emb: Array[Array[Float]] = gen.dedupEmbeddings(docs.length, pairs, dim, 52)
  def n: Int = docs.length
  private val par = spark.sparkContext.defaultParallelism
  val docsDf: DataFrame = spark.createDataFrame(spark.sparkContext.parallelize(
    docs.indices.map(i => Row(i.toLong, docs(i))), par),
    StructType(Seq(StructField("id", LongType), StructField("doc", StringType))))
    .persist(StorageLevel.MEMORY_AND_DISK)
  val embDf: DataFrame = spark.createDataFrame(spark.sparkContext.parallelize(
    emb.indices.map(i => Row(i.toLong, emb(i).toSeq)), par),
    StructType(Seq(StructField("id", LongType), StructField("vec", ArrayType(FloatType)))))
    .persist(StorageLevel.MEMORY_AND_DISK)
  docsDf.count(); embDf.count()
  private val (index, indexS) = Common.timeS {
    val i = Dedup.buildJaccardIndex(docsDf.where(col("id") < indexed), "id", "doc", 3, threshold)
    val p = Dedup.JaccardIndex(i.gramSets.persist(StorageLevel.MEMORY_AND_DISK),
      i.df.persist(StorageLevel.MEMORY_AND_DISK), i.prefixes.persist(StorageLevel.MEMORY_AND_DISK),
      i.n, i.threshold)
    p.gramSets.count(); p.df.count(); p.prefixes.count()
    p
  }
  val builds: Map[String, Double] = Map("dedup.jaccard_index_build_s" -> indexS)

  private lazy val sets = docs.map(d => Ref.shingles(d))
  private def exactJac(a: Long, b: Long) = Ref.jaccard(sets(a.toInt), sets(b.toInt))
  private lazy val plantedAbove = pairs.filter { case (a, b) => Ref.jaccard(sets(a), sets(b)) >= threshold }
    .map { case (a, b) => (a.toLong, b.toLong) }
  private val batchIds: IndexedSeq[Array[Int]] = {
    val per = (n - indexed + batches - 1) / batches
    (0 until batches).map(i => (indexed + i * per until math.min(n, indexed + (i + 1) * per)).toArray)
  }
  private val wantInc = mutable.HashMap.empty[Int, Map[(Long, Long), Double]]
  private lazy val wantDrop = semanticReference()
  private var dupFound = 0L
  private var dupWanted = 0L

  private def pairsOf(df: DataFrame): Map[(Long, Long), Double] =
    df.select("a", "b", "jac").collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
  private def pairsExact(got: Map[(Long, Long), Double]): Boolean = got.forall { case ((a, b), j) =>
    a < b && j >= threshold && math.abs(exactJac(a, b) - j) <= Ref.Tol
  }

  def cycle(h: Harness, i: Int): Unit = {
    val mh = h.call("dedup.minhash", "docs", n) {
      val df = Dedup.minhashPairs(docsDf, "id", "doc", n = 3, numHashes = 16,
        rowsPerBand = 4, threshold = threshold)
      (df, pairsOf(df))
    } { case (_, got) =>
      dupFound += plantedAbove.count(got.contains); dupWanted += plantedAbove.length
      h.extras("dedup.dup_recall") = dupFound.toDouble / dupWanted
      pairsExact(got)
    }
    mh.foreach { case (df, got) =>
      h.call("dedup.components", "docs", 0)(
        Dedup.connectedComponents(df).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap)(
        _ == Ref.components(got.keys))
      df.unpersist()
    }
    val bi = i % batches
    val ids = batchIds(bi)
    val incoming = docsDf.where(col("id").isin(ids.map(_.toLong): _*))
    h.call("dedup.jaccard_incremental", "docs", ids.length)(
      pairsOf(Dedup.jaccardPairsIncremental(index, incoming, "id", "doc"))) { got =>
      val want = wantInc.getOrElseUpdate(bi,
        Ref.jaccardPairs(j => sets(j), ids.toSeq, 0 until indexed, threshold))
      got.keySet == want.keySet && pairsExact(got)
    }
    h.call("dedup.semantic_drop", "docs", n)(
      Dedup.semanticDrop(embDf, "id", "vec", anchors, cosThreshold).collect()
        .map(r => r.getLong(0) -> r.getDouble(2)).toMap) { got =>
      got.keySet == wantDrop.keySet &&
        got.forall { case (id, c) => math.abs(wantDrop(id) - c) <= Ref.Tol }
    }
  }

  /** Dropped ids of the anchor-clustered semantic dedup, computed directly:
    * unit vectors, cluster = nearest anchor (ids below `anchors`), an id is
    * dropped when a smaller id of its cluster has cosine ≥ the threshold. */
  private def semanticReference(): Map[Long, Double] = {
    val unit = emb.map { v =>
      val d = v.map(_.toDouble); val nrm = math.sqrt(d.map(x => x * x).sum); d.map(_ / nrm)
    }
    def dot(a: Array[Double], b: Array[Double]) = a.indices.foldLeft(0.0)((t, i) => t + a(i) * b(i))
    def sq(a: Array[Double], b: Array[Double]) =
      a.indices.foldLeft(0.0) { (t, i) => val x = a(i) - b(i); t + x * x }
    val cluster = unit.map(u => (0 until anchors).minBy(c => (sq(u, unit(c)), c)))
    val out = mutable.HashMap.empty[Long, Double]
    for ((_, ms) <- unit.indices.groupBy(cluster(_)); Seq(a, b) <- ms.sorted.combinations(2)) {
      val c = dot(unit(a), unit(b))
      if (c >= cosThreshold) out(b.toLong) = math.max(out.getOrElse(b.toLong, -2.0), c)
    }
    out.toMap
  }
}

object DedupPipeline {
  val base = 800
  val planted = 200
  val indexed = 800 // ids below this form the Jaccard index; the rest arrive in batches
  val batches = 4
  val dim = 32
  val threshold = 0.7
  val anchors = 12
  val cosThreshold = 0.95
}

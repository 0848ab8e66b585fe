package graftbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel

/** Shared plumbing: input frames, metadata rendering, storage accounting. */
object Common {

  val corpusSchema: StructType = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("doc", StringType, nullable = false),
    StructField("vector", ArrayType(FloatType, containsNull = false), nullable = false),
    StructField("meta", StringType, nullable = false)))

  val querySchema: StructType = StructType(Seq(
    StructField("qid", LongType, nullable = false),
    StructField("text", StringType, nullable = false),
    StructField("qv", ArrayType(FloatType, containsNull = false), nullable = false)))

  /** JSON text of one metadata map (keys in insertion order). */
  def metaJson(m: Map[String, Any]): String = m.map { case (k, v) =>
    Json.str(k) + ":" + (v match {
      case s: String => Json.str(s)
      case d: Double => if (d == math.floor(d)) f"$d%.1f" else d.toString
      case other => other.toString
    })
  }.mkString("{", ",", "}")

  /** The corpus as a cached frame (ids 0 until n), materialized. */
  def corpusFrame(spark: SparkSession, docs: Array[String], vecs: Array[Array[Float]],
                  metas: Array[Map[String, Any]], idBase: Long = 0L): DataFrame = {
    val rows = docs.indices.map(i =>
      Row(idBase + i, docs(i), vecs(i).toSeq, metaJson(metas(i))))
    val par = spark.sparkContext.defaultParallelism
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, par), corpusSchema)
      .persist(StorageLevel.MEMORY_AND_DISK)
    df.count()
    df
  }

  def queryFrame(spark: SparkSession, qids: Seq[Long], texts: Int => String,
                 vecs: Int => Array[Float]): DataFrame =
    spark.createDataFrame(
      java.util.Arrays.asList(qids.map(q => Row(q, texts(q.toInt), vecs(q.toInt).toSeq)): _*),
      querySchema)

  /** Cached RDD blocks (memory plus disk) in the block manager, MiB: the
    * index footprint plus any cache a call leaked. Broadcast blocks are
    * left out: when they go depends on the garbage collector. */
  def cachedMb(spark: SparkSession): Double =
    spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / (1024.0 * 1024.0)

  def hits(rows: Array[Row], qidIdx: Int, idIdx: Int, scoreIdx: Int): Map[Long, Array[Ref.Hit]] =
    rows.groupBy(_.getLong(qidIdx)).view.mapValues(rs =>
      rs.map(r => (r.getLong(idIdx), r.getDouble(scoreIdx))).sortBy { case (id, s) => (-s, id) }).toMap

  def timeS[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime(); val r = f; (r, (System.nanoTime() - t0) / 1e9)
  }
}

package graftbench

import graft.expr.VectorExpr
import graft.plans.TopK
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Kernel and operator throughput measured from outside: each kernel is
  * evaluated over a cached corpus × a broadcast query block and reduced by
  * a sum; the per-key top-k runs over a cached scored-pairs frame. */
object Kernels {
  private val reps = 3

  private def medianSeconds(f: => Unit): Double = {
    f // warm: codegen and broadcast of the first run are not throughput
    Stats.median((1 to reps).map(_ => Common.timeS(f)._2))
  }

  def measure(spark: SparkSession, s: BatchSearch, qids: Seq[Long]): Map[String, Double] = {
    val q = broadcast(Common.queryFrame(spark, qids, s.qTexts, s.qVecs)
      .select(col("qid"), col("qv")))
    val pairs = qids.length.toDouble * BatchSearch.rows
    def mpairs(df: => DataFrame): Double = pairs / 1e6 / medianSeconds(df.collect())

    val vecs = s.corpus.select(col("id"), col("vector"))
    val l2 = mpairs(vecs.crossJoin(q).agg(sum(VectorExpr.squaredL2(col("vector"), col("qv")))))

    val qd = q.select(col("qid"), col("qv").cast("array<double>").as("qv"))
    val sqdeq = mpairs(s.sq.data.select(col("code")).crossJoin(qd)
      .agg(sum(VectorExpr.sqDeqSquaredL2(col("code"), col("qv"), s.sq.mins, s.sq.steps))))

    val rpq = s.rpq
    val kk = rpq.codebooks.map(_.length).max
    val cenDense = {
      val a = new Array[Array[Double]](rpq.centroids.map(_._1).max + 1)
      rpq.centroids.foreach { case (c, v) => a(c) = v }
      a
    }
    val tables = broadcast(qd.select(col("qid"),
      VectorExpr.adcFlatTables(col("qv"), cenDense, rpq.codebooks).as("adc")))
    val adc = mpairs(rpq.codes.select(col("codes").cast("array<int>").as("codes"),
        col("cluster").cast("int").as("cluster"))
      .crossJoin(tables)
      .agg(sum(VectorExpr.adcLookupSum(col("codes"), col("cluster"), col("adc"), rpq.m, kk))))

    val scored = vecs.crossJoin(q)
      .select(col("qid"), col("id"),
        (lit(1.0) / (lit(1.0) + VectorExpr.squaredL2(col("vector"), col("qv")))).as("score"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    scored.count()
    val topkS = medianSeconds(
      TopK.perKey(scored, Seq("qid"), Seq("score" -> true, "id" -> false), BatchSearch.k).collect())
    scored.unpersist(blocking = true)

    Map("expr.squaredl2_mpairs_per_s" -> l2, "expr.sqdeq_mpairs_per_s" -> sqdeq,
      "expr.adc_mpairs_per_s" -> adc, "plans.topk_mrows_per_s" -> pairs / 1e6 / topkS)
  }
}

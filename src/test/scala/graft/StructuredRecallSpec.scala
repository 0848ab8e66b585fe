package graft

import graft.tools.StructuredEmbeddings
import graft.vector.{ExactKNN, GraphIndex, IVFIndex}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Recall floors on STRUCTURED (mixture-of-Gaussians) embeddings
  * (r11 VERDICT #2): the driver's synthetic embeddings are near-uniform,
  * where any probe's recall ≈ its scanned fraction — so every tuned-recall
  * claim previously rested on exact-recoverable proofs. Real embedding
  * spaces are clustered; on [[StructuredEmbeddings]]' geometry an index
  * must beat its scanned fraction by a wide margin or it is not indexing.
  * These pins hold the floor so a regression in IVF training, graph
  * construction, or residual encoding shows up as recall collapse, not
  * just as a slower curve in SCALE.md. */
class StructuredRecallSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val n = 1000
  private val nClusters = 20
  private lazy val emb = {
    val df = StructuredEmbeddings.frame(spark, n, 64, nClusters,
      sigma = 0.1, seed = 42L).cache()
    df.count()
    df
  }
  private lazy val queryRows =
    StructuredEmbeddings.rows(n, 64, nClusters, 0.1, 42L)

  private def qvec(id: Int): Array[Double] = queryRows(id)._2.map(_.toDouble)

  private lazy val qids = Seq(3, 97, 222, 341, 555, 760, 888, 999)

  private def exactTop(q: Array[Double], k: Int): Set[Long] =
    ExactKNN.topK(emb, "vec_id", "embedding", q, k)
      .collect().map(_.getLong(0)).toSet

  test("IVF at 10% scanned: recall@10 >= 0.9 on clustered geometry (>> scanned fraction)") {
    val ivf = IVFIndex.build(emb, "vec_id", "embedding", nlist = nClusters)
    val sizes = ivf.assignments.groupBy(col("cluster")).count()
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val nprobe = 2 // 2/20 clusters — 10%-ish of the corpus
    var scanned = 0L
    val recalls = qids.map { id =>
      val q = qvec(id)
      scanned += ivf.probeOrder(q).take(nprobe).map(sizes.getOrElse(_, 0L)).sum
      ivf.search(q, 10, nprobe).collect().map(_.getLong(0)).toSet
        .intersect(exactTop(q, 10)).size / 10.0
    }
    val recall = recalls.sum / recalls.size
    val frac = scanned.toDouble / (n.toLong * qids.size)
    assert(frac < 0.30, s"probe scanned $frac of the corpus — not a partial probe")
    assert(recall >= 0.9, s"IVF recall@10 $recall on structured data (scanned $frac)")
    assert(recall >= 3 * frac, s"recall $recall does not beat scanned fraction $frac 3x")
    ivf.dispose()
  }

  test("graph tuned beam (ef=64): recall@10 >= 0.9 on clustered geometry") {
    val gi = GraphIndex.build(emb, "vec_id", "embedding", k = 8)
    val recalls = qids.map { id =>
      val q = qvec(id)
      gi.search(q, 10, ef = 64).collect().map(_.getLong(0)).toSet
        .intersect(exactTop(q, 10)).size / 10.0
    }
    val recall = recalls.sum / recalls.size
    assert(recall >= 0.9, s"graph recall@10 $recall at ef=64 on structured data")
    gi.dispose()
  }

  test("graph tuned beam over SEVERAL shards (shardTarget=100): recall@10 >= 0.9") {
    // ten IVF-cell shards, each with its own graph; a query searches every
    // shard and the hits merge. On clustered geometry the true neighbours
    // share a cell, so tuned recall must hold the one-graph floor — this
    // pins the sharded build's quality, not just its cost
    val gi = GraphIndex.build(emb, "vec_id", "embedding", k = 8, target = 100)
    assert(gi.shards >= 10, s"${gi.shards} shards")
    val recalls = qids.map { id =>
      val q = qvec(id)
      gi.search(q, 10, ef = 64).collect().map(_.getLong(0)).toSet
        .intersect(exactTop(q, 10)).size / 10.0
    }
    val recall = recalls.sum / recalls.size
    assert(recall >= 0.9, s"sharded-edge graph recall@10 $recall at ef=64")
    gi.dispose()
  }

  test("residual ADC at nprobe=2/20: recall@10 >= 0.65 (quantized + probed, still >> scanned)") {
    // the ADC arm pays BOTH approximations (probed subset + quantized
    // ranking); measured 0.71 at ~10% scanned on this geometry — the pin
    // holds ≥ 0.65, i.e. ≥ 6× the scanned fraction, where the uniform
    // corpus's curve sat AT the scanned fraction (SCALE.md r4)
    val ivf = IVFIndex.build(emb, "vec_id", "embedding", nlist = nClusters)
    val rpq = graft.vector.ResidualPQ.build(ivf, dim = 64, m = 16)
    val recalls = qids.map { id =>
      val q = qvec(id)
      rpq.searchBatch(graft.plans.KnnTopK.block(spark, Seq((0L, q))), "qid", "qv", 10, nprobe = 2)
        .collect().map(_.getLong(1)).toSet
        .intersect(exactTop(q, 10)).size / 10.0
    }
    val recall = recalls.sum / recalls.size
    assert(recall >= 0.65, s"residual-ADC recall@10 $recall on structured data")
    rpq.dispose(); ivf.dispose()
  }
}

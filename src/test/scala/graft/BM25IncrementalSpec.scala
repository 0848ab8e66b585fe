package graft

import graft.text.BM25
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Differential pins for incremental BM25 statistics (r5 VERDICT #6):
  * build(A ∪ B) and build(A).append(B) must be the same index — same
  * forward/docFreq CONTENT, same corpus scalars, same scores — and a chain
  * of appends keeps a plan that grows by a bounded amount per append.
  */
class BM25IncrementalSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  private def docs = spark.read.parquet(s"$dir/documents.parquet")

  private lazy val full = BM25.build(docs, "doc_id", "text")
  private lazy val inc = BM25.build(docs.where(col("doc_id") < 300), "doc_id", "text")
    .append(docs.where(col("doc_id") >= 300), "doc_id", "text")

  test("corpus scalars merge exactly: n, totalDl, avgdl; avgIdf to 1e-12") {
    assert(inc.n == full.n)
    assert(inc.totalDl == full.totalDl)
    assert(inc.avgdl == full.avgdl) // bit-equal: both totalDl/n on exact longs
    assert(math.abs(inc.avgIdf - full.avgIdf) < 1e-12)
  }

  test("forward and docFreq content equal the full rebuild") {
    assert(inc.forward.exceptAll(full.forward).isEmpty &&
      full.forward.exceptAll(inc.forward).isEmpty)
    assert(inc.docFreq.exceptAll(full.docFreq).isEmpty &&
      full.docFreq.exceptAll(inc.docFreq).isEmpty)
    assert(inc.forward.count() == full.forward.count())
  }

  test("scores equal the full rebuild row-for-row (single and batch)") {
    val q = Queries.bm25Query
    def rows(ix: BM25.Index) = ix.score(q)
      .select(col("id"), round(col("score"), 9).as("s"))
      .orderBy(col("s").desc, col("id").asc).limit(20)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(rows(inc) == rows(full))
    def batch(ix: BM25.Index) = ix.scoreBatchTopK(Seq(1L -> q, 2L -> "cat dog"), 5)
      .select(col("qid"), col("id"), round(col("score"), 9).as("s"))
      .orderBy(col("qid"), col("s").desc, col("id"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(batch(inc) == batch(full))
  }

  test("a second append composes (chain of two batches)") {
    val chained = BM25.build(docs.where(col("doc_id") < 200), "doc_id", "text")
      .append(docs.where(col("doc_id") >= 200 && col("doc_id") < 350), "doc_id", "text")
      .append(docs.where(col("doc_id") >= 350), "doc_id", "text")
    assert(chained.n == full.n && chained.totalDl == full.totalDl)
    assert(math.abs(chained.avgIdf - full.avgIdf) < 1e-12)
    assert(chained.docFreq.exceptAll(full.docFreq).isEmpty)
    assert(chained.forward.exceptAll(full.forward).isEmpty)
    chained.dispose()
  }

  test("40 appends: each frame reads its parent once, the superseded vocabulary is released") {
    import spark.implicits._
    val words = Seq("ant", "bee", "cat", "dog", "eel", "fox", "gnu", "hen")
    def batch(from: Int, n: Int) = (from until from + n).map(i =>
      (i.toLong, Seq.tabulate(4)(j => words((i * 3 + j * 5) % words.size) + (i % 7)).mkString(" ")))
      .toDF("id", "doc")
    // the physical plan string nests every cached frame's own plan: the
    // string adaptive execution renders on each plan update
    def plan(df: org.apache.spark.sql.DataFrame) = df.queryExecution.executedPlan.treeString.length
    def persisted = spark.sparkContext.getPersistentRDDs.size
    var ix = BM25.build(batch(0, 20), "id", "doc")
    ix.docFreq.count()
    var (fwd, vocab, rdds) = (plan(ix.forward), plan(ix.docFreq), persisted)
    val steps = (0 until 40).map { a =>
      ix = ix.append(batch(20 + 2 * a, 2), "id", "doc")
      val step = (plan(ix.forward) - fwd, plan(ix.docFreq) - vocab, persisted - rdds)
      fwd = plan(ix.forward); vocab = plan(ix.docFreq); rdds = persisted
      step
    }
    // a plan that read its parent twice would double: bounded increments
    // mean linear growth in the number of appends
    assert(steps.forall(_._1 <= 400), s"forward plan increments ${steps.map(_._1)}")
    assert(steps.forall(_._2 <= 400), s"vocabulary plan increments ${steps.map(_._2)}")
    assert(steps.forall(_._3 <= 1), s"persisted RDD increments ${steps.map(_._3)}")
    val rebuilt = BM25.build(batch(0, 100), "id", "doc")
    assert(ix.n == rebuilt.n && ix.totalDl == rebuilt.totalDl && ix.avgIdf == rebuilt.avgIdf)
    assert(ix.docFreq.exceptAll(rebuilt.docFreq).isEmpty && rebuilt.docFreq.exceptAll(ix.docFreq).isEmpty)
    assert(ix.scoreBatchTopK(Seq(1L -> "cat3 fox5 ant0"), 10).collect().toSeq ==
      rebuilt.scoreBatchTopK(Seq(1L -> "cat3 fox5 ant0"), 10).collect().toSeq)
    ix.dispose(); rebuilt.dispose()
  }

  test("appending an empty batch is the identity on statistics") {
    val same = full.append(docs.where(col("doc_id") < 0), "doc_id", "text")
    assert(same.n == full.n && same.totalDl == full.totalDl &&
      math.abs(same.avgIdf - full.avgIdf) < 1e-12)
  }
}

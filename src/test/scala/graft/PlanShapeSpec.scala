package graft

import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan shape pins for the gate queries — the ".explain and
  * iterate" contract made executable. Each assertion encodes a scale
  * property that must survive refactoring: no corpus-sized broadcasts, no
  * nested-loop joins, top-k without a global sort, filters reaching the
  * parquet scan. */
class PlanShapeSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, dir).queryExecution.executedPlan.toString

  /** The plan below the fused top-k merge: the per-partition heaps and
    * the corpus they read. A sort above the merge orders ≤ k rows. */
  private def belowMerge(p: String): String = p.substring(math.max(0, p.indexOf("KnnTopKMerge")))

  test("knn_l2: top-k runs on KnnTopK heaps, no global sort, no shuffle of the corpus") {
    val p = plan("knn_l2")
    assert(p.contains("KnnTopK 10, exact L2Sq"), p)
    assert(!p.contains("Exchange"), s"unexpected shuffle:\n$p")
    assert(!belowMerge(p).contains("Sort ["), s"unexpected full sort:\n$p")
  }

  test("graph beam: no exchange and no sort below the merge over a cached graph frame") {
    import org.apache.spark.sql.functions.col
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val g = graft.vector.GraphIndex.build(emb, "vec_id", "embedding", k = 8, target = 100)
    val qs = graft.plans.KnnTopK.block(spark, Seq((0L, Array.fill(64)(0.1))))
    val allow = emb.where(col("vec_id") % 2 === 0).select(col("vec_id").as("id"))
    for (r <- Seq(None, Some(allow))) {
      val df = g.searchBatch(qs, "qid", "qv", 5, ef = 16, restrict = r)
      df.collect()
      val p = df.queryExecution.executedPlan.toString
      assert(p.contains("graph beam ef=16"), p)
      // a filter broadcasts its allow-list; the frame is read in place
      val below = belowMerge(p).replace("BroadcastExchange", "")
      assert(!below.contains("Exchange") && !below.contains("Sort ["), s"filter=${r.isDefined}:\n$p")
    }
    g.dispose()
  }

  test("dedup_embedding: pure equi-join structure — degrades to shuffle joins, never NLJ") {
    // at sf0.001 the optimizer may legitimately broadcast the 500-row corpus;
    // the 100 TB property is that with size-based broadcast off the plan is
    // still hash/merge EQUI-joins (a nested-loop formulation would stay NLJ)
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.get(key)
    try {
      spark.conf.set(key, "-1")
      val p = plan("dedup_embedding")
      assert(!p.contains("BroadcastNestedLoopJoin"), s"NLJ over the pair space:\n$p")
      assert(!p.contains("CartesianProduct"), p)
      assert(p.contains("ShuffledHashJoin") || p.contains("SortMergeJoin") ||
        p.contains("BroadcastHashJoin"), p) // pair table is hint-broadcast
    } finally spark.conf.set(key, prev)
  }

  test("meta_range: predicates are pushed into the parquet scan") {
    val p = plan("meta_range")
    assert(p.contains("PushedFilters: ["), p)
    assert(p.contains("n_chars") && p.contains("GreaterThanOrEqual"), p)
  }

  test("ann_lsh: candidate filter precedes the re-rank (filter, then top-k)") {
    // the bucket filter is the LSH scorer's per-pair check before each
    // exact re-rank inside the top-k operator (its candidate set is pinned
    // against brute force in KnnTopKSpec)
    val p = plan("ann_lsh")
    assert(p.contains("KnnTopK 10, lsh radius="), p)
    assert(!belowMerge(p).contains("Sort ["), s"unexpected full sort:\n$p")
  }

  test("knn_batch_topk: custom heap operator, not a window sort") {
    val p = plan("knn_batch_topk")
    assert(p.contains("KnnTopK"), p)
    assert(!p.contains("WindowExec"), p)
  }

  test("ann_pq: ADC is a scan-side projection (no join against a codebook table)") {
    // ADC scores inside the top-k operator's scan of the codes
    val p = plan("ann_pq")
    assert(p.contains("KnnTopK 10, pq adc"), p)
    assert(!p.contains("Join"), p)
  }

  test("tpch_q4/anti_inactive_customers: EXISTS/NOT EXISTS stay semi/anti joins — rows never multiplied") {
    val p4 = plan("tpch_q4")
    assert(p4.contains("LeftSemi"), p4)
    assert(!p4.contains("CartesianProduct") && !p4.contains("BroadcastNestedLoopJoin"), p4)
    val pa = plan("anti_inactive_customers")
    assert(pa.contains("LeftAnti"), pa)
    assert(!pa.contains("CartesianProduct") && !pa.contains("BroadcastNestedLoopJoin"), pa)
  }

  test("tpch_q13: outer join keeps zero-order customers; both aggregates hash-based") {
    val p = plan("tpch_q13")
    assert(p.contains("LeftOuter"), p)
    assert(p.contains("HashAggregate"), p)
    assert(!p.contains("SortAggregate"), p)
  }

  test("pseudonymize: cohort suppression join broadcasts the group-sized side, hash scan stays fact-sized") {
    val p = plan("pseudonymize")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("lm_score: the LM join is a broadcast (vocab-sized), never a shuffle of the token stream against itself") {
    val p = plan("lm_score")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("quality_funnel: single-scan — no join anywhere in the funnel") {
    val p = plan("quality_funnel")
    assert(!p.contains("Join"), s"funnel must be one fused projection:\n$p")
  }

  test("ann_ivf_sq8: cluster restriction + bound filter precede the rerank — no global sort, no join") {
    val p = plan("ann_ivf_sq8")
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(p.contains("Filter"), p)
    assert(!p.contains("SortExec") && !p.contains("Join"), p)
  }

  test("ann_sq8: bound-pruned scan — filter precedes the rerank top-k, no global sort") {
    val p = plan("ann_sq8")
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(p.contains("Filter"), p)
    assert(!p.contains("SortExec"), p)
  }

  test("tpch_q17: decorrelated scalar subquery — aggregate + equi-join, no NLJ re-scan per row") {
    val p = plan("tpch_q17")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("HashAggregate"), p)
  }

  test("tpch_q18: ONE lineitem aggregate serves filter and result; broadcast join; TakeOrdered") {
    // round 18: the HAVING semi-join + second fact join/re-aggregate
    // collapsed into one per-order aggregate broadcast to orders — the
    // fact table is scanned once and never re-joined
    val p = plan("tpch_q18")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("LeftSemi"), s"q18 must not re-join the fact for the HAVING filter:\n$p")
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(p.split("lineitem\\.parquet").length <= 2, s"one lineitem scan only:\n$p")
  }

  test("events_funnel: two aggregations, zero joins — the funnel never multiplies rows") {
    val p = plan("events_funnel")
    assert(!p.contains("Join"), s"funnel must be join-free:\n$p")
    assert(p.contains("HashAggregate"), p)
  }

  test("retention_cohorts: cohort join is an equi-join, never a cartesian") {
    val p = plan("retention_cohorts")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("tpch_q1: aggregate is hash-based with a partial (map-side) phase") {
    val p = plan("tpch_q1")
    assert(p.contains("HashAggregate"), p)
    assert(!p.contains("SortAggregate"), p)
  }

  test("approx_distinct_kmv: sketch partials are keyed by the GROUP alone (O(k) buffers)") {
    val p = plan("approx_distinct_kmv")
    // TypedImperativeAggregate → ObjectHashAggregate, with partial_kmin_values
    // on the map side so only O(k) sketch bytes per group cross the exchange
    assert(p.contains("ObjectHashAggregate"), p)
    val partial = p.linesIterator.find(_.contains("partial_kmin_values"))
    assert(partial.isDefined, p)
    // a countDistinct sharing the aggregate would rewrite the sketch's
    // partial keys to (group, hash) — one buffer per DISTINCT VALUE
    assert(partial.get.matches(""".*keys=\[event_type#\d+\].*"""),
      s"sketch partial not keyed by the group alone: ${partial.get}")
  }

  test("pivot_revenue: static value list plans as ONE aggregation pass (no distinct-values subquery)") {
    val p = plan("pivot_revenue")
    assert(p.contains("HashAggregate"), p)
    // a dynamic pivot would first run a collect_set/distinct job; the plan
    // here is a single scan → partial agg → exchange → final agg
    assert(!p.contains("CollectLimit"), p)
    assert(p.linesIterator.count(_.contains("Scan parquet")) == 1, p)
  }

  test("dedup_keep: corpus survives via anti-join — no corpus-side shuffle beyond the join") {
    val p = plan("dedup_keep")
    assert(p.contains("LeftAnti"), p)
  }

  test("tpch_q6: every predicate is pushed to the parquet scan") {
    val p = plan("tpch_q6")
    assert(p.contains("PushedFilters: ["), p)
    // all three predicate families must reach the reader
    assert(p.contains("l_shipdate") && p.contains("l_discount") && p.contains("l_quantity"),
      s"missing pushed predicate:\n$p")
    assert(p.contains("HashAggregate"), p)
  }

  test("training_export: language + quality features come from ONE corpus scan") {
    val p = plan("training_export")
    // the composed pipeline must not re-read documents per feature: one
    // parquet scan feeds the fused feature projection; the keep filter is
    // an anti-join against the tiny non-representative set (cached, not
    // a second scan)
    assert(p.linesIterator.count(l =>
      l.contains("Scan parquet") && l.contains("documents")) == 1, p)
    assert(p.contains("LeftAnti"), p)
  }

  test("dedup_incremental: every join against the corpus index broadcasts the batch side") {
    // the per-batch-cost ∝ |batch| contract, executable: the corpus-sized
    // df/prefix/gram-set frames must only ever STREAM through broadcast
    // hash joins — a ShuffledHashJoin/SortMergeJoin here re-shuffles the
    // whole corpus index per incoming batch (round-10 review)
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val ix0 = graft.dedup.Dedup.buildJaccardIndex(
      docs.where(org.apache.spark.sql.functions.col("doc_id") < 400),
      "doc_id", "text", n = 3, threshold = 0.8)
    // materialize the index the way a deployment does (persisted corpus
    // snapshot) so the captured plan is the PER-BATCH work only — the
    // one-time build's own shuffles otherwise appear inside it
    val ix = ix0.copy(gramSets = ix0.gramSets.localCheckpoint(true),
      df = ix0.df.localCheckpoint(true), prefixes = ix0.prefixes.localCheckpoint(true))
    val p = graft.dedup.Dedup.jaccardPairsIncremental(
        ix, docs.where(org.apache.spark.sql.functions.col("doc_id") >= 400),
        "doc_id", "text")
      .queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      s"corpus index shuffled by an incremental batch:\n$p")
  }

  test("dedup_embedding_incremental: every join against the corpus index broadcasts the batch side") {
    import org.apache.spark.sql.functions.col
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val ix0 = graft.dedup.Dedup.buildEmbeddingIndex(
      emb.where(col("vec_id") < 400), "vec_id", "embedding", threshold = 0.35)
    val ix = ix0.copy(rows = ix0.rows.localCheckpoint(true),
      buckets = ix0.buckets.localCheckpoint(true),
      bucketCounts = ix0.bucketCounts.localCheckpoint(true))
    val p = graft.dedup.Dedup.embeddingPairsIncremental(
        ix, emb.where(col("vec_id") >= 400), "vec_id", "embedding")
      .queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      s"corpus index shuffled by an incremental batch:\n$p")
  }

  test("dedup_semantic_incremental: corpus rows stream through broadcast joins, never re-shuffled per batch") {
    import org.apache.spark.sql.functions.col
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val ix0 = graft.dedup.Dedup.buildSemanticIndex(
      emb.where(col("vec_id") < 400), "vec_id", "embedding",
      nAnchors = 8, threshold = 0.3)
    val ix = ix0.copy(rows = ix0.rows.localCheckpoint(true),
      clusterCounts = ix0.clusterCounts.localCheckpoint(true))
    val p = graft.dedup.Dedup.semanticDropIncremental(
        ix, emb.where(col("vec_id") >= 400), "vec_id", "embedding")
      .queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      s"corpus assignment shuffled by an incremental batch:\n$p")
  }
}

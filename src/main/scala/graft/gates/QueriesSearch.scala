package graft

import graft.dedup.Dedup
import graft.expr.ExactSum
import graft.functions.VectorFunctions._
import graft.text.{BM25, TextAnalysis}
import graft.vector.{ExactKNN, IVFIndex, LSHIndex, PQIndex}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The reference search surface: KNN/ANN (flat, ivf, sq8, pq, residual, lsh, graph), BM25 text, metadata, hybrid fusion, facade end-to-end gates.
  *
  * One tier of [[Queries]] (split in round 12, r11 VERDICT #7 -
  * maintainability only): members keep their original relative order and
  * semantics, relaxed from `private` to `private[graft]` so the sibling
  * tier traits and the assembling object see them. The self-type gives
  * every tier access to the full mixed-in surface without a dependency
  * graph between the files. */
private[graft] trait QueriesSearch { this: Queries.type =>

  // ---------------------------------------------------------------------------
  // Spark-side operator implementations
  // ---------------------------------------------------------------------------

  /** K4 flat KNN: top-k by squared L2, score = 1/(1+d). */
  private[graft] def knnL2(spark: SparkSession, dir: String): DataFrame = {
    val e = tbl(spark, dir, "embeddings")
    ExactKNN.topK(e, "vec_id", "embedding", qvec(spark, dir, 7), 10)
      .select(col("id"), r4(col("score")).as("score"))
      .orderBy(col("score").desc, col("id").asc)
  }

  /** K4 variant: cosine similarity top-k. */
  private[graft] def knnCosine(spark: SparkSession, dir: String): DataFrame = {
    val e = tbl(spark, dir, "embeddings")
    ExactKNN.topK(e, "vec_id", "embedding", qvec(spark, dir, 42), 10, ExactKNN.Cosine)
      .select(col("id"), r4(col("score")).as("score"))
      .orderBy(col("score").desc, col("id").asc)
  }

  /** F5 pre-filter KNN — TRUE pushdown variant (filter before ranking;
    * SURVEY §2.5.2 documents the deliberate divergence from the reference's
    * post-intersection). */
  private[graft] def knnPreFilter(spark: SparkSession, dir: String): DataFrame = {
    val e = tbl(spark, dir, "embeddings").where(col("label") === 3)
    ExactKNN.topK(e, "vec_id", "embedding", qvec(spark, dir, 7), 5)
      .select(col("id"), r4(col("score")).as("score"))
      .orderBy(col("score").desc, col("id").asc)
  }

  /** F5 in the reference's FAITHFUL order (ldb:179–185): ANN search first
    * over the whole corpus, intersect with the filter after — the
    * documented divergence's other mode (SURVEY §2.5.2; the default gate
    * `knn_prefilter` pins the true-pushdown order). */
  private[graft] def knnPreFilterFaithful(spark: SparkSession, dir: String): DataFrame = {
    val e = tbl(spark, dir, "embeddings")
    val top = ExactKNN.topK(e, "vec_id", "embedding", qvec(spark, dir, 7), 20)
    top.join(e.where(col("label") === 3).select(col("vec_id").as("id")), Seq("id"), "left_semi")
      .select(col("id"), r4(col("score")).as("score"))
      .orderBy(col("score").desc, col("id").asc)
  }

  /** F6 post-filter KNN: top-20 first, then the metadata predicate. */
  private[graft] def knnPostFilter(spark: SparkSession, dir: String): DataFrame = {
    val e = tbl(spark, dir, "embeddings")
    val top = ExactKNN.topK(e, "vec_id", "embedding", qvec(spark, dir, 7), 20)
    top.join(e.select(col("vec_id").as("id"), col("label")), Seq("id"))
      .where(col("label") === 3)
      .select(col("id"), r4(col("score")).as("score"))
      .orderBy(col("score").desc, col("id").asc)
  }

  /** K1–K3 BM25 text search, top-10. */
  private[graft] def textBm25(spark: SparkSession, dir: String): DataFrame =
    bm25Index(spark, dir).score(bm25Query)
      .select(col("id"), r4(col("score")).as("score"))
      .orderBy(col("score").desc, col("id").asc)
      .limit(10)

  /** The same query answered by the INCREMENTALLY-built index (80% built
    * + 20% appended): equal statistics ⇒ equal scores ⇒ the full-rebuild
    * oracle pins the merge path end to end (r5 VERDICT #6). */
  private[graft] def textBm25Incremental(spark: SparkSession, dir: String): DataFrame =
    bm25IncIndex(spark, dir).score(bm25Query)
      .select(col("id"), r4(col("score")).as("score"))
      .orderBy(col("score").desc, col("id").asc)
      .limit(10)

  /** BULK text retrieval: N queries through ONE fused KnnTopK pass over
    * the BM25 forward frame, each query's results bounded by its heap —
    * never N separate scoring passes. The gate drives the FRAMES path
    * (r7 VERDICT #7): tokenization and the df lookup run as a plan over
    * the query DataFrame — the driver-Seq `scoreBatchTopK` stays as the
    * reference-API convenience, row-equality-pinned in BM25Spec. */
  private[graft] def textBm25Batch(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    bm25Index(spark, dir)
      .scoreBatchTopKFrames(bm25BatchQueries.toDF("qid", "qtext"), "qid", "qtext", k = 5)
      .select(col("qid"), col("id"), r4(col("score")).as("score"))
      .orderBy(col("qid").asc, col("score").desc, col("id").asc)
  }

  /** F1 conjunctive exact-match metadata filter + F4 head-top_k. */
  /** F3+F4 at the oracle level: NO conditions — the all-ids path cut to
    * the reference's head-style top_k (first k by id, NOT a rank; the
    * semantics ldb:296–303 pins), with the metadata projection. */
  private[graft] def metaHead(spark: SparkSession, dir: String): DataFrame =
    tbl(spark, dir, "documents")
      .select(col("doc_id").as("id"), col("lang"), col("source"))
      .orderBy(col("id").asc)
      .limit(25)

  private[graft] def metaFilter(spark: SparkSession, dir: String): DataFrame =
    tbl(spark, dir, "documents")
      .where(col("lang") === "en" && col("source") === "src3")
      .select(col("doc_id").as("id"))
      .orderBy(col("id").asc)
      .limit(50)

  /** F2 arbitrary-predicate filter (range), as an optimizer-visible Column
    * expression rather than an opaque lambda. */
  private[graft] def metaRange(spark: SparkSession, dir: String): DataFrame =
    tbl(spark, dir, "documents")
      .where(col("n_chars") >= 100 && col("n_chars") < 300 && col("lang") === "fr")
      .select(col("doc_id").as("id"))
      .orderBy(col("id").asc)

  /** S5 point lookup by rowid. */
  private[graft] def pointLookup(spark: SparkSession, dir: String): DataFrame =
    tbl(spark, dir, "documents")
      .where(col("doc_id") === 123)
      .select(col("doc_id").as("id"), col("text"), col("lang"), col("source"))

  /** S7 count. */
  private[graft] def collectionCount(spark: SparkSession, dir: String): DataFrame =
    tbl(spark, dir, "documents").agg(count(lit(1)).as("n"))

  /** Memoized persisted (id, ts, vs) scored pass for the fixed hybrid gate
    * inputs — both max-normalizers and the final ranking read this ONE
    * narrow cached frame instead of re-running the BM25 join and the
    * distance scan per consumer (r1 VERDICT #3: the scored subtrees were
    * evaluated up to 4×). */
  private[graft] val hybridJoinedCache = new Memo[DataFrame](memoMax, "hybridJoinedCache")(unp)

  private[graft] def hybridJoined(spark: SparkSession, dir: String): DataFrame =
    hybridJoinedCache.get(spark, dir) {
      val emb = tbl(spark, dir, "embeddings")
      val t = bm25Index(spark, dir).score(bm25Query).withColumnRenamed("score", "ts")
      val v = ExactKNN.scoreAll(emb, "vec_id", "embedding", qvec(spark, dir, 7), ExactKNN.L2)
        .withColumnRenamed("score", "vs")
      t.join(v, Seq("id")).persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    }

  /** K8–K11 hybrid search, small-N exact path (N ≤ 1000 at sf0.01 —
    * true-L2 brute force, ref local_db.py:375–378), max-normalize →
    * weighted fusion → zero-drop → top-k. One aggregate over the persisted
    * scored pass yields both maxes as driver scalars (two doubles — a
    * query-argument-sized collect, not a data collect). */
  private[graft] def hybrid(spark: SparkSession, dir: String): DataFrame = {
    val w = 0.5
    val joined = hybridJoined(spark, dir)
    val mr = joined.agg(max(col("ts")), max(col("vs"))).head()
    val tm = mr.getDouble(0)
    val vm = mr.getDouble(1)
    joined
      .select(col("id"),
        (lit(w) * (if (vm > 0) col("vs") / lit(vm) else col("vs")) +
         lit(1.0 - w) * (if (tm > 0) col("ts") / lit(tm) else col("ts"))).as("raw"))
      .where(col("raw") > 0)
      .select(col("id"), r4(col("raw")).as("score"))
      .orderBy(col("score").desc, col("id").asc)
      .limit(10)
  }

  /** Memoized VectorDatabase facade instance over the joined documents ×
    * embeddings tables — lets gates exercise the REAL end-to-end API paths
    * (addBulk dense-id ingest + hybridSearch), not just the operator
    * building blocks. */
  private[graft] val vdbCache = new Memo[VectorDatabase](memoMax, "vdbCache")(_.close())

  private[graft] def vdb(spark: SparkSession, dir: String): VectorDatabase =
    vdbCache.get(spark, dir)(graft.sources.CollectionLoader.fromTestTables(spark, dir))

  /** K11 widened-probe hybrid path (ldb:359–374): index probe with
    * k = max(10·topK, 100), squared-L2 score discipline, zero-scatter over
    * the corpus, then the K8–K10 fusion — the branch the reference takes at
    * N > 1000, forced here via `exactThreshold = 0` so the sf0.01 gate pins
    * it with a full SQL oracle. Runs through the facade end to end
    * (create → addBulk → hybridSearch). */
  private[graft] def hybridProbe(spark: SparkSession, dir: String): DataFrame =
    vdb(spark, dir)
      .hybridSearch(bm25Query,
        qvec(spark, dir, 7).map(_.toFloat), topK = 10, exactThreshold = 0L)
      .select(col("id"), r4(col("score")).as("score"))
      .orderBy(col("score").desc, col("id").asc)

  /** BULK hybrid search (round 9): three (text, vector) queries fused in
    * ONE distributed plan through the facade — the batch twin of
    * hybrid_search/hybrid_probe (the last reference pipeline, ldb:323–401,
    * without one). `hybrid_batch` forces the exact arm (threshold = ∞,
    * true-L2 dense scoring so the oracle shape is sf-independent);
    * `hybrid_batch_probe` forces the widened-probe + zero-scatter arm
    * (threshold = 0, squared-L2 discipline, k = max(10·topK, 100) = 100). */
  private[graft] val hybridBatchQs = Seq(
    (7L, bm25Query),
    (13L, "vector scan window group batch"),
    (21L, "merge sort column filter stream"))

  private[graft] def hybridBatchQueryFrame(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    hybridBatchQs.toDF("qid", "qtext")
      .join(tbl(spark, dir, "embeddings")
        .select(col("vec_id").as("qid"), col("embedding").as("qv")), Seq("qid"))
  }

  private[graft] def hybridBatchArm(exactThreshold: Long)(spark: SparkSession, dir: String): DataFrame =
    vdb(spark, dir)
      .hybridSearchBatch(hybridBatchQueryFrame(spark, dir), "qid", "qtext", "qv",
        topK = 10, exactThreshold = exactThreshold)
      .select(col("qid"), col("id"), r4(col("score")).as("score"))
      .orderBy(col("qid").asc, col("score").desc, col("id").asc)

  /** hybrid_probe's full SQL oracle — shared by every facade path that
    * must reproduce the widened-probe fusion over the ingested collection
    * (batch-ingested, stream-ingested). */
  private[graft] lazy val hybridProbeSql: String =
    s"""WITH ${bm25Ctes(bm25Query, joinedCorpus = true)},
       |q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 7),
       |vsq AS (SELECT e.vec_id AS id, 1.0/(1.0 + $sqDistSql) AS s FROM embeddings e, q),
       |ranked AS (SELECT id, s, row_number() OVER (ORDER BY s DESC, id) AS rn FROM vsq),
       |vscore AS (SELECT id, CASE WHEN rn <= 100 THEN s ELSE 0.0 END AS vs FROM ranked),
       |tmax AS (SELECT max(score) AS tm FROM tscore),
       |vmax AS (SELECT max(vs) AS vm FROM vscore),
       |fused AS (
       |  SELECT tscore.id,
       |         0.5 * (CASE WHEN vm > 0 THEN vs / vm ELSE vs END)
       |       + 0.5 * (CASE WHEN tm > 0 THEN tscore.score / tm ELSE tscore.score END) AS raw
       |  FROM tscore JOIN vscore USING (id), tmax, vmax),
       |top AS (SELECT id, raw FROM fused WHERE raw > 0 ORDER BY raw DESC, id LIMIT 10)
       |SELECT id, round(raw, 4) AS score FROM top ORDER BY score DESC, id""".stripMargin

  /** The widened-probe batch-hybrid arm through the GRAPH-typed facade:
    * `AnnIndex.searchBatch`'s graph arm (the exact scan over the graph's
    * vectors at efSearch ≥ corpus ⇒ the probe's top-100 is exact)
    * feeding the same zero-scatter + fusion pipeline — so the gate shares
    * hybrid_batch_probe's oracle VERBATIM while exercising a completely
    * different physical probe. Collection domain is identical (docs ⋈
    * embeddings through [[graphDb]]). */
  private[graft] def hybridBatchGraph(spark: SparkSession, dir: String): DataFrame =
    graphDb(spark, dir)
      .hybridSearchBatch(hybridBatchQueryFrame(spark, dir), "qid", "qtext", "qv",
        topK = 10, exactThreshold = 0L)
      .select(col("qid"), col("id"), r4(col("score")).as("score"))
      .orderBy(col("qid").asc, col("score").desc, col("id").asc)

  /** PER-QUERY filter frame through the batch twin (r9 VERDICT #5): each
    * query carries its OWN allow-list — (qid, id) pairs with
    * id % 3 = qid % 3 (qids 7/13/21 ⇒ residues 1/1/0, so a
    * union-of-allow-lists bug shows immediately) — semi-joined on BOTH
    * keys before the zero-drop. The mask composes AFTER fusion
    * (ldb:390–392's multiply), never re-normalizing; the oracle restates
    * it as a per-query-CTE predicate in each top-k block. */
  private[graft] def hybridBatchFiltered(spark: SparkSession, dir: String): DataFrame = {
    val db = vdb(spark, dir)
    val qf = hybridBatchQueryFrame(spark, dir)
    val restrict = db.queryMetadata() // F3: all collection ids, ascending
      .crossJoin(broadcast(qf.select(col("qid"))))
      .where(col("id") % 3 === col("qid") % 3)
      .select(col("qid"), col("id"))
    db.hybridSearchBatch(qf, "qid", "qtext", "qv", topK = 10,
        exactThreshold = Long.MaxValue, restrict = Some(restrict))
      .select(col("qid"), col("id"), r4(col("score")).as("score"))
      .orderBy(col("qid").asc, col("score").desc, col("id").asc)
  }

  /** Shared oracle builder for the two batch-hybrid arms: the joined-corpus
    * BM25 CTE chain once, per-query (qt/contrib/dense-tscore/vscore/maxes/
    * fusion/top-10) blocks, UNION ALL, rounded in the outer select — the
    * batch composition of the hybrid_search / hybrid_probe oracles. */
  private[graft] def hybridBatchSql(exact: Boolean, restricted: Boolean = false): String = {
    val corpus = "(SELECT * FROM documents WHERE doc_id IN (SELECT vec_id FROM embeddings))"
    val shared =
      raw"""d AS (SELECT doc_id AS id, string_split_regex(trim(text), '\s+') AS toks FROM $corpus),
           |dl AS (SELECT id, len(toks)::DOUBLE AS dl FROM d),
           |corpus AS (SELECT count(*) AS n, avg(dl) AS avgdl FROM dl),
           |tf AS (SELECT id, unnest(toks) AS term FROM d),
           |tfg AS (SELECT id, term, count(*)::DOUBLE AS tf FROM tf GROUP BY 1, 2),
           |dfreq AS (SELECT term, count(*)::DOUBLE AS df FROM tfg GROUP BY 1),
           |raw AS (SELECT term, ln((n - df + 0.5)/(df + 0.5)) AS raw_idf FROM dfreq, corpus),
           |eps AS (SELECT avg(raw_idf) AS avg_idf FROM raw),
           |idf AS (SELECT term, CASE WHEN raw_idf < 0 THEN 0.25 * avg_idf ELSE raw_idf END AS idf FROM raw, eps)""".stripMargin
    val blocks = hybridBatchQs.map { case (qid, qtext) =>
      val vscore =
        if (exact)
          s"""v$qid AS (SELECT e.vec_id AS id, 1.0/(1.0 + sqrt($sqDistSql)) AS vs
             |          FROM embeddings e, q$qid q)""".stripMargin
        else
          s"""vsq$qid AS (SELECT e.vec_id AS id, 1.0/(1.0 + $sqDistSql) AS s
             |            FROM embeddings e, q$qid q),
             |rk$qid AS (SELECT id, s, row_number() OVER (ORDER BY s DESC, id) AS rn FROM vsq$qid),
             |v$qid AS (SELECT id, CASE WHEN rn <= 100 THEN s ELSE 0.0 END AS vs FROM rk$qid)""".stripMargin
      raw"""q$qid AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = $qid),
           |qt$qid AS (SELECT term, count(*)::DOUBLE AS qtf
           |           FROM (SELECT unnest(string_split_regex(trim('$qtext'), '\s+')) AS term) GROUP BY 1),
           |c$qid AS (
           |  SELECT tfg.id,
           |         sum(qt.qtf * idf.idf * tfg.tf * (1.5 + 1.0) /
           |             (tfg.tf + 1.5 * (1.0 - 0.75 + 0.75 * dl.dl / corpus.avgdl))) AS score
           |  FROM tfg JOIN qt$qid qt USING (term) JOIN idf USING (term) JOIN dl USING (id), corpus
           |  GROUP BY 1),
           |t$qid AS (SELECT dl.id, coalesce(c.score, 0.0) AS score FROM dl LEFT JOIN c$qid c USING (id)),
           |$vscore,
           |tm$qid AS (SELECT max(t.score) AS tm FROM t$qid t JOIN v$qid USING (id)),
           |vm$qid AS (SELECT max(vs) AS vm FROM v$qid JOIN t$qid USING (id)),
           |f$qid AS (
           |  SELECT t.id,
           |         0.5 * (CASE WHEN vm > 0 THEN vs / vm ELSE vs END)
           |       + 0.5 * (CASE WHEN tm > 0 THEN t.score / tm ELSE t.score END) AS raw
           |  FROM t$qid t JOIN v$qid USING (id), tm$qid, vm$qid),
           |top$qid AS (SELECT $qid::BIGINT AS qid, id, raw FROM f$qid
           |            WHERE raw > 0${if (restricted) s" AND id % 3 = ${qid % 3}" else ""}
           |            ORDER BY raw DESC, id LIMIT 10)""".stripMargin
    }
    val union = hybridBatchQs.map { case (qid, _) => s"SELECT * FROM top$qid" }
      .mkString(" UNION ALL ")
    s"""WITH $shared,
       |${blocks.mkString(",\n")}
       |SELECT qid, id, round(raw, 4) AS score FROM ($union)
       |ORDER BY qid, score DESC, id""".stripMargin
  }

  /** K1–K3 through the FACADE: `queryText` over the ingested collection —
    * create → addBulk → BM25 rebuild-on-demand → score, the reference's
    * `query_text` end to end (ldb:115–135), sharing text_bm25's oracle
    * (the collection's docs ARE the documents table, ids ≡ doc_id). */
  private[graft] def facadeQueryText(spark: SparkSession, dir: String): DataFrame =
    vdb(spark, dir).queryText(bm25Query, topK = 10)
      .select(col("id"), r4(col("score")).as("score"))
      .orderBy(col("score").desc, col("id").asc)

  /** Memoized IVF index per (session, dir) — built once, probed per query. */
  private[graft] val ivfCache = new Memo[IVFIndex](memoMax, "ivfCache")(_.dispose())

  private[graft] def ivfIndex(spark: SparkSession, dir: String): IVFIndex =
    ivfCache.get(spark, dir)(
      IVFIndex.build(tbl(spark, dir, "embeddings"), "vec_id", "embedding", nlist = 16))

  private[graft] val sqCache = new Memo[graft.vector.SQIndex](memoMax, "sqCache")(_.dispose())

  private[graft] def sqIndex(spark: SparkSession, dir: String): graft.vector.SQIndex =
    sqCache.get(spark, dir)(
      graft.vector.SQIndex.build(tbl(spark, dir, "embeddings"), "vec_id", "embedding"))

  /** SQ8 scalar-quantized scan (FAISS IndexScalarQuantizer analog): exact
    * top-k through interval-bound pruning over byte codes + float rerank of
    * the provable superset — shares the exact KNN oracle BY PROOF, not by
    * full coverage (contrast annIvf's nprobe = nlist). See
    * [[graft.vector.SQIndex]] for the bound. */
  private[graft] def annSq8(spark: SparkSession, dir: String): DataFrame =
    sqIndex(spark, dir).search(qvec(spark, dir, 17), k = 10)

  /** SQ8 under COSINE (r8 VERDICT #7): the dot-product interval bound
    * |x̂·q − x·q| ≤ Σ sᵢ|qᵢ|/2 over codes + the stored exact row norm,
    * reranked on floats — shares the exact cosine oracle BY PROOF, the
    * metric transpose of ann_sq8's squared-L2 argument. */
  private[graft] def annSq8Cosine(spark: SparkSession, dir: String): DataFrame =
    sqIndex(spark, dir).searchCosine(qvec(spark, dir, 99), k = 10)

  /** Batch form of the SQ8 cosine arm: one pass of the fused KnnTopK
    * operator, a per-(row, query) branch-and-bound over the codes under
    * the cosine proof, float rerank of survivors only. */
  private[graft] def knnBatchSq8Cosine(spark: SparkSession, dir: String): DataFrame = {
    val e = tbl(spark, dir, "embeddings")
    val queries = e.where(col("vec_id").isin(11L, 12L, 13L))
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    sqIndex(spark, dir).searchBatchCosine(queries, "qid", "qv", k = 5)
  }

  private[graft] val sqLoadedCache =
    new Memo[(graft.vector.SQIndex, java.nio.file.Path)](memoMax, "sqLoadedCache")({
      case (idx, p) => idx.dispose(); graft.streaming.StreamingGates.rmrf(p)
    })

  /** S3+S4 for the SQ8 index: build → save (codes + quantizer) → load →
    * bound-pruned exact search. The loaded frame is lazily scanned, so the
    * gate pins the deployment shape (quantize once, serve from parquet). */
  private[graft] def sqLoaded(spark: SparkSession, dir: String): graft.vector.SQIndex =
    sqLoadedCache.get(spark, dir) {
      val tmp = java.nio.file.Files.createTempDirectory("graft_sqsave")
      guardTmp(tmp) {
        sqIndex(spark, dir).save(tmp.toString)
        (graft.vector.SQIndex.load(spark, tmp.toString), tmp)
      }
    }._1

  private[graft] def saveLoadSq8Knn(spark: SparkSession, dir: String): DataFrame =
    sqLoaded(spark, dir).search(qvec(spark, dir, 21), k = 10)

  private[graft] val sqIvfCache = new Memo[graft.vector.SQIndex](memoMax, "sqIvfCache")(_.dispose())

  /** FAISS IVF_SQ8 composition: the IVF coarse quantizer partition-prunes
    * the scan (at rest: `partitionBy(cluster)` files, nprobe/nlist of the
    * I/O), SQ8 codes cut the surviving bytes 4×, and the interval bound
    * prunes the float rerank — the three pruning tiers a 100 TB ANN scan
    * stacks. Exact-recoverable at nprobe = nlist (the cluster restriction
    * covers every row, so the SQ8 proof gives GLOBAL exact top-k) ⇒
    * shares the exact KNN oracle like ann_ivf; the partial-probe
    * configuration is recall-pinned in SQIndexSpec. */
  private[graft] def annIvfSq8(spark: SparkSession, dir: String): DataFrame = {
    val ivf = ivfIndex(spark, dir)
    val sq = sqIvfCache.get(spark, dir)(
      graft.vector.SQIndex.build(ivf.assignments, "id", "vector", keep = Seq("cluster")))
    val q = qvec(spark, dir, 37)
    // driver-side centroid ranking, O(nlist) scalars — same discipline as
    // IVFIndex.search (the coarse quantizer is driver-held, like FAISS)
    val probe = ivf.centroids.sortBy { case (_, c) =>
      c.zip(q).map { case (a, b) => (a - b) * (a - b) }.sum }.map(_._1)
    sq.search(q, k = 10, restrict = Some(col("cluster").isin(probe: _*)))
  }

  /** K6 KNN through the IVF probe machinery in its exact-recoverable
    * configuration: `nprobe = nlist` scans every cluster, so the result is
    * bit-identical to the flat scan and the gate shares the exact KNN
    * oracle (r1 VERDICT next-round #1; IVFSpec already asserts the
    * equality). The production approximate probe (nprobe ≪ nlist,
    * partition-pruned I/O) is recall-pinned in IVFSpec. */
  private[graft] def annIvf(spark: SparkSession, dir: String): DataFrame = {
    val idx = ivfIndex(spark, dir)
    idx.search(qvec(spark, dir, 13), k = 10, nprobe = idx.nlist)
      .select(col("id"), r4(col("score")).as("score"))
      .orderBy(col("score").desc, col("id").asc)
  }

  /** K5/K6 metric dispatch: the IVF probe under COSINE scoring, in the
    * exact-recoverable configuration (nprobe = nlist), sharing the exact
    * cosine oracle — pins that the probe machinery is metric-generic, not
    * an L2 special case. */
  private[graft] def annIvfCosine(spark: SparkSession, dir: String): DataFrame = {
    val idx = ivfIndex(spark, dir)
    idx.search(qvec(spark, dir, 42), k = 10, nprobe = idx.nlist, metric = ExactKNN.Cosine)
      .select(col("id"), r4(col("score")).as("score"))
      .orderBy(col("score").desc, col("id").asc)
  }

  /** Memoized anchor-codebook PQ index per (session, dir): codebooks are
    * the sub-vectors of rows vec_id < 16 (m = 8 subspaces of 8 dims), a
    * deterministic SQL-expressible construction — so encode + ADC are
    * oracle-verified end to end, unlike KMeans-trained codebooks (which
    * stay the production path, recall-pinned in PQSpec). */
  private[graft] val pqCache = new Memo[PQIndex](memoMax, "pqCache")(_.dispose())

  private[graft] def pqIndex(spark: SparkSession, dir: String): PQIndex =
    pqCache.get(spark, dir)(
      PQIndex.buildFromAnchors(tbl(spark, dir, "embeddings"), "vec_id", "embedding",
        dim = 64, m = 8, anchorFilter = col("vec_id") < 16))

  /** BULK ADC: N queries against the compressed corpus in one pass of
    * the fused KnnTopK operator — each task builds every query's distance
    * tables once and sums m table lookups per (row, query) pair. Anchor
    * codebooks keep it SQL-reproducible. */
  private[graft] def annPqBatch(spark: SparkSession, dir: String): DataFrame = {
    val e = tbl(spark, dir, "embeddings")
    val queries = e.where(col("vec_id").isin(11L, 12L))
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    pqIndex(spark, dir).searchBatch(queries, "qid", "qv", k = 5)
      .select(col("qid"), col("id"), r4(col("score")).as("score"))
      .orderBy(col("qid").asc, col("score").desc, col("id").asc)
  }

  /** K6/PQ: ADC top-k over the compressed corpus (SURVEY §2.3-K6). */
  private[graft] def annPq(spark: SparkSession, dir: String): DataFrame =
    pqIndex(spark, dir)
      .search(qvec(spark, dir, 7), k = 10)
      .select(col("id"), r4(col("score")).as("score"))
      .orderBy(col("score").desc, col("id").asc)

  /** EXACT top-k THROUGH the compressed PQ index (r9 VERDICT #7): the ADC
    * interval bound — per subspace, table entry ± quantization-cell radius
    * brackets the true sub-distance — gives a provable candidate superset
    * from a codes-only pass, float-reranked. Shares the exact KNN oracle
    * BY PROOF for ANY codebook (the SQ8 discipline transposed to PQ);
    * the radii table is codebook-sized, memoized per (session, dir). */
  private[graft] val pqRadiiCache =
    new Memo[graft.vector.PQIndex.CellRadii](memoMax, "pqRadiiCache")(_ => ())

  /** RESIDUAL PQ (round 10): the construction faiss.IndexIVFPQ actually
    * uses — vectors PQ-encoded as residuals against the IVF coarse
    * quantizer (strictly less quantization error wherever the coarse
    * quantizer captures structure; measured in ResidualPQSpec/SCALE.md).
    * The gate runs the EXACT rung: the stored per-row reconstruction
    * error brackets the true distance, so the result shares the exact-KNN
    * oracle BY PROOF like ann_pq_exact/ann_sq8 — no new oracle SQL. */
  private[graft] val residualPqCache =
    new Memo[graft.vector.ResidualPQ](memoMax, "residualPqCache")(_.dispose())

  private[graft] def residualPq(spark: SparkSession, dir: String): graft.vector.ResidualPQ =
    residualPqCache.get(spark, dir)(
      graft.vector.ResidualPQ.build(ivfIndex(spark, dir), dim = 64, m = 8))

  private[graft] def annPqResidualExact(spark: SparkSession, dir: String): DataFrame =
    residualPq(spark, dir)
      .searchExact(qvec(spark, dir, 29), k = 10,
        tbl(spark, dir, "embeddings"), "vec_id", "embedding")
      .orderBy(col("score").desc, col("id").asc)

  private[graft] val residualPqLoadedCache =
    new Memo[(graft.vector.ResidualPQ, java.nio.file.Path)](memoMax, "residualPqLoadedCache")({
      case (idx, p) => idx.dispose(); graft.streaming.StreamingGates.rmrf(p)
    })

  /** S3+S4 for residual PQ (r10 VERDICT #2 — lifecycle parity with the
    * other six index families): build → save (codes + codebooks + coarse
    * centroids, three parquet frames) → load → bound-pruned exact search.
    * Shares the exact-KNN oracle BY PROOF — the per-row err survives the
    * parquet round-trip byte-exact, so the loaded index's bracket is the
    * built one's. Append-through-the-trained-quantizer is pinned in
    * ResidualPQSpec (codebook/centroid identity + exactness over the
    * unioned corpus). */
  private[graft] def residualPqLoaded(spark: SparkSession, dir: String): graft.vector.ResidualPQ =
    residualPqLoadedCache.get(spark, dir) {
      val tmp = java.nio.file.Files.createTempDirectory("graft_rpqsave")
      guardTmp(tmp) {
        graft.vector.ResidualPQ.save(residualPq(spark, dir), tmp.toString)
        (graft.vector.ResidualPQ.load(spark, tmp.toString), tmp)
      }
    }._1

  private[graft] def saveLoadPqResidual(spark: SparkSession, dir: String): DataFrame =
    residualPqLoaded(spark, dir)
      .searchExact(qvec(spark, dir, 53), k = 10,
        tbl(spark, dir, "embeddings"), "vec_id", "embedding")
      .orderBy(col("score").desc, col("id").asc)

  private[graft] def annPqExact(spark: SparkSession, dir: String): DataFrame = {
    val idx = pqIndex(spark, dir)
    // radii computed from THIS index's codes frame, which never appends
    // (memoized per (session, dir)) — the staleness contract holds
    val radii = pqRadiiCache.get(spark, dir)(
      idx.cellRadii(tbl(spark, dir, "embeddings"), "vec_id", "embedding"))
    idx.searchExact(qvec(spark, dir, 23), k = 10,
        tbl(spark, dir, "embeddings"), "vec_id", "embedding", radii = Some(radii))
      .orderBy(col("score").desc, col("id").asc)
  }

  /** Memoized LSH index per (session, dir). bucketLength 0.25 ≈ 2σ of a
    * unit vector's projection onto a random direction at dim 64. */
  private[graft] val lshCache = new Memo[LSHIndex](memoMax, "lshCache")(_.dispose())

  private[graft] def lshIndex(spark: SparkSession, dir: String): LSHIndex =
    lshCache.get(spark, dir)(
      LSHIndex.build(tbl(spark, dir, "embeddings"), "vec_id", "embedding",
        numHashTables = 4, bucketLength = 0.25))

  /** Memoized navigable-graph index per (session, dir), graft's analog of
    * the reference's hnsw (SURVEY §8): per-shard exact k-NN edges plus the
    * skip-ring. */
  private[graft] val graphCache = new Memo[graft.vector.GraphIndex](memoMax, "graphCache")(_.dispose())

  private[graft] def graphIndex(spark: SparkSession, dir: String): graft.vector.GraphIndex =
    graphCache.get(spark, dir)(
      graft.vector.GraphIndex.build(tbl(spark, dir, "embeddings"), "vec_id", "embedding", k = 8))

  /** The graph index's exact configuration (`ef = 0`): the scan over the
    * graph's vectors, so it shares the exact batch oracle — the graph
    * analog of nprobe = nlist / superset radius. Tuned-beam recall is
    * pinned in GraphIndexSpec. */
  private[graft] def annGraph(spark: SparkSession, dir: String): DataFrame = {
    val e = tbl(spark, dir, "embeddings")
    val queries = e.where(col("vec_id").isin(13L, 14L, 15L))
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    graphIndex(spark, dir).searchBatch(queries, "qid", "qv", k = 5, ef = 0)
      .select(col("qid"), col("id"), r4(col("score")).as("score"))
      .orderBy(col("qid").asc, col("score").desc, col("id").asc)
  }

  /** ann_graph's DECADE-value-check twin (round 16, r15 VERDICT #5):
    * the same exact config over FOUR md5-SELECTED
    * query ids — `ORDER BY md5('agq_' || vec_id) LIMIT 4`, a selection
    * both engines derive identically at ANY corpus size — so the gate
    * runs in the driver suite at sf0.01 AND, pointed at an sf10-ind
    * dir, turns the sweep's completion-only ann_graph pin into a
    * sampled DuckDB hash-match (the full 3-query gate is exact too;
    * what was intractable at the decade was hashing EVERY query's
    * full-corpus oracle — four sampled queries keep the exact oracle
    * linear). */
  private[graft] def annGraphSampled(spark: SparkSession, dir: String): DataFrame = {
    val e = tbl(spark, dir, "embeddings")
    val qids = e.select(col("vec_id"))
      .orderBy(md5(concat(lit("agq_"), col("vec_id").cast("string"))), col("vec_id"))
      .limit(4)
    val queries = e.join(broadcast(qids), "vec_id")
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    graphIndex(spark, dir).searchBatch(queries, "qid", "qv", k = 5, ef = 0)
      .select(col("qid"), col("id"), r4(col("score")).as("score"))
      .orderBy(col("qid").asc, col("score").desc, col("id").asc)
  }

  /** K5 metric dispatch for the GRAPH index: its exact configuration
    * under COSINE scoring, sharing the exact cosine oracle by the same
    * argument as ann_graph's. Pins that the graph's search is
    * metric-generic like the IVF probe (ann_ivf_cosine) and the SQ8 bound
    * (ann_sq8_cosine). */
  private[graft] def annGraphCosine(spark: SparkSession, dir: String): DataFrame = {
    val e = tbl(spark, dir, "embeddings")
    val queries = e.where(col("vec_id").isin(11L, 12L, 13L))
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    graphIndex(spark, dir).searchBatch(queries, "qid", "qv", k = 5, ef = 0,
        metric = ExactKNN.Cosine)
      .select(col("qid"), col("id"), r4(col("score")).as("score"))
      .orderBy(col("qid").asc, col("score").desc, col("id").asc)
  }

  /** Memoized 'graph'-typed facade collection (docs ⋈ embeddings) at the
    * exact escape hatch: efSearch ≥ corpus ⇒ the graph answer is the exact
    * scan over the graph's vectors. */
  private[graft] val graphDbCache = new Memo[VectorDatabase](memoMax, "graphDbCache")(_.close())

  private[graft] def graphDb(spark: SparkSession, dir: String): VectorDatabase =
    graphDbCache.get(spark, dir) {
      // m 8 ⇒ 8 k-NN edges per node, as the ann_graph gate index. Edges
      // never touch these gates' answers (efSearch ≥ corpus is the exact
      // scan)
      val db = VectorDatabase.create(spark, 64, "graph",
        efConstruction = 25, m = 8, ivfClusters = 16, efSearch = Int.MaxValue)
      db.addBulk(
        tbl(spark, dir, "documents").join(tbl(spark, dir, "embeddings"),
          col("doc_id") === col("vec_id")),
        "text", "embedding", None, "doc_id")
      db
    }

  /** The reference API end to end over the REAL graph index (round 6):
    * `queryVector` through the 'graph' facade type — create → addBulk →
    * lazy graph build → search — sharing the exact-KNN oracle via the
    * escape hatch. Tuned-beam facade behavior is pinned in
    * GraphFacadeSpec. */
  private[graft] def facadeGraphKnn(spark: SparkSession, dir: String): DataFrame =
    graphDb(spark, dir).queryVector(qvec(spark, dir, 51).map(_.toFloat), topK = 10)
      .select(col("id"), r4(col("score")).as("score"))
      .orderBy(col("score").desc, col("id").asc)

  /** F5 through the REAL graph index. At efSearch ≥ corpus the pre-filter
    * semi-joins the exact scan, so the filtered answer shares the filtered
    * exact-KNN oracle. A tuned beam walks filtered-out nodes too (cutting
    * them out would disconnect the graph — hnswlib's allow-list stance,
    * [[graft.vector.GraphIndex.searchBatch]]) and widens ef 4×, as every
    * filtered probe widens. */
  private[graft] def knnPrefilterGraph(spark: SparkSession, dir: String): DataFrame =
    graphDb(spark, dir)
      .queryVector(qvec(spark, dir, 17).map(_.toFloat), topK = 5,
        preFilter = Some(col("id") % 2 === 0))
      .select(col("id"), r4(col("score")).as("score"))
      .orderBy(col("score").desc, col("id").asc)

  /** K5 via random-projection LSH in its exact-recoverable configuration:
    * the multiprobe radius is widened to the provable candidate-superset
    * bound (see LSHIndex), so bucket hashing + candidate filter + exact
    * re-rank are all exercised AND the result matches the exact-KNN oracle
    * bit for bit. The tuned radius-0 probe is recall-pinned in LSHSpec. */
  private[graft] def annLsh(spark: SparkSession, dir: String): DataFrame =
    lshIndex(spark, dir)
      .search(qvec(spark, dir, 21), k = 10, exact = true)
      .select(col("id"), r4(col("score")).as("score"))
      .orderBy(col("score").desc, col("id").asc)

  /** Per-label embedding centroids through the custom VectorAvg typed
    * aggregate (graft.expr.VectorAgg) — map-side-combined (Σ, n) buffers,
    * O(dim) per group on the wire. Long format (label, i, avg_v) for the
    * cross-engine compare. */
  private[graft] def labelCentroids(spark: SparkSession, dir: String): DataFrame =
    tbl(spark, dir, "embeddings")
      .groupBy(col("label"))
      .agg(graft.expr.VectorAgg.vecAvg(col("embedding")).as("c"))
      .select(col("label"), posexplode(col("c")).as(Seq("i", "v")))
      // + 0.0 canonicalizes IEEE -0.0 → 0.0: a ~1e-18 mean can round to
      // negative zero on one engine and positive zero on the other
      .select(col("label"), col("i").cast("long").as("i"),
        (r4(col("v")) + lit(0.0)).as("avg_v"))
      .orderBy(col("label").asc, col("i").asc)

  /** K4 batch variant: bulk similarity join, 3 queries × top-5 each. */
  private[graft] def knnBatch(spark: SparkSession, dir: String): DataFrame = {
    val e = tbl(spark, dir, "embeddings")
    val queries = e.where(col("vec_id").isin(1L, 2L, 3L))
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    ExactKNN.topKBatch(e, "vec_id", "embedding", queries, "qid", "qv", k = 5)
      .select(col("qid"), col("id"), r4(col("score")).as("score"))
      .orderBy(col("qid").asc, col("score").desc, col("id").asc)
  }

  /** Same workload through the `topKBatchHeap` entry point (an alias of
    * `topKBatch`, the fused KnnTopK operator) — exact results, so it
    * shares knn_batch's oracle. */
  private[graft] def knnBatchTopk(spark: SparkSession, dir: String): DataFrame = {
    val e = tbl(spark, dir, "embeddings")
    val queries = e.where(col("vec_id").isin(1L, 2L, 3L))
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    ExactKNN.topKBatchHeap(e, "vec_id", "embedding", queries, "qid", "qv", k = 5)
      .select(col("qid"), col("id"), r4(col("score")).as("score"))
      .orderBy(col("qid").asc, col("score").desc, col("id").asc)
  }

  /** Bulk exact KNN through the SQ8 bound-pruned batch plan: one fused
    * KnnTopK pass, per (row, query) a codes-only bound against the query
    * heap's k-th distance, float rerank of survivors. Exact by the
    * interval-bound proof ⇒ shares the exact batch oracle. */
  private[graft] def knnBatchSq8(spark: SparkSession, dir: String): DataFrame = {
    val e = tbl(spark, dir, "embeddings")
    val queries = e.where(col("vec_id").isin(7L, 8L, 9L))
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    sqIndex(spark, dir).searchBatch(queries, "qid", "qv", k = 5)
      .select(col("qid"), col("id"), r4(col("score")).as("score"))
      .orderBy(col("qid").asc, col("score").desc, col("id").asc)
  }

  /** BULK ANN through the IVF index as ONE distributed plan (no per-query
    * driver probe): one fused KnnTopK pass over the assignments, each
    * task ranking every query's centroids and scoring only probed cells.
    * Exact-recoverable configuration (nprobe = nlist) ⇒ shares the exact
    * batch oracle; the approximate-probe plan shape is spec-pinned. */
  private[graft] def knnBatchIvf(spark: SparkSession, dir: String): DataFrame = {
    val e = tbl(spark, dir, "embeddings")
    val idx = ivfIndex(spark, dir)
    val queries = e.where(col("vec_id").isin(4L, 5L, 6L))
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    idx.searchBatch(queries, "qid", "qv", k = 5, nprobe = idx.nlist)
      .select(col("qid"), col("id"), r4(col("score")).as("score"))
      .orderBy(col("qid").asc, col("score").desc, col("id").asc)
  }

  /** BULK ANN through the LSH tables: one fused KnnTopK pass, each task
    * hashing every query with the same planes and re-ranking exactly only
    * the in-bucket (row, query) pairs. `exact = true` = provable-superset
    * radius over the batch ⇒ shares the exact batch oracle (tuned-radius
    * recall pinned in LSHSpec). */
  private[graft] def knnBatchLsh(spark: SparkSession, dir: String): DataFrame = {
    val e = tbl(spark, dir, "embeddings")
    val queries = e.where(col("vec_id").isin(7L, 8L, 9L))
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    lshIndex(spark, dir).searchBatch(queries, "qid", "qv", k = 5, exact = true)
      .select(col("qid"), col("id"), r4(col("score")).as("score"))
      .orderBy(col("qid").asc, col("score").desc, col("id").asc)
  }

  /** k-NN graph: top-3 neighbors over the WHOLE corpus for the first 500
    * nodes (exact-recoverable: nprobe = nlist; the node filter bounds the
    * inherently |nodes| × corpus exact cost at bench scale — the full
    * graph is the same plan with the filter dropped). */
  private[graft] def knnGraphQ(spark: SparkSession, dir: String): DataFrame = {
    val idx = ivfIndex(spark, dir)
    idx.knnGraph(tbl(spark, dir, "embeddings"), "vec_id", "embedding",
        k = 3, nprobe = idx.nlist, nodesFilter = Some(col("vec_id") < 500))
      .select(col("qid"), col("id"), r4(col("score")).as("score"))
      .orderBy(col("qid").asc, col("score").desc, col("id").asc)
  }

  /** Iterative graph analytics over the k-NN graph: 3 damped PageRank
    * iterations (d = 0.85) on the CLOSED exact 3-NN digraph over
    * vec_id < 500 (both endpoints restricted, so rank mass stays inside
    * the subgraph; out-degree is exactly 3 for every node ⇒ no dangling
    * mass). Each iteration is one broadcast join (rank is node-sized) +
    * one grouped aggregate; the per-node in-contribution sum folds in
    * SORTED-value order ON BOTH SIDES (Spark sort_array fold; oracle
    * list_sum(list_sort(list(...)))) — unlike lm_score, where only the
    * Spark side sorts and 4-dp absorbs cross-engine noise, here the rank
    * VECTORS are bit-identical across engines at every iteration, so the
    * floor-form round agrees by construction (a plain sum() oracle
    * mismatched 2 of 500 rows at sf0.1 — 1-ulp noise crossing a 4-dp
    * boundary after 3 iterations; the sorted fold killed it).
    * At 100 TB: rank is one narrow row per node — the iteration is
    * edges ⨝ broadcast-or-shuffle rank + a map-side-combined aggregate,
    * the standard Pregel-free relational formulation. */
  private[graft] def graphPagerank(spark: SparkSession, dir: String): DataFrame = {
    val emb = tbl(spark, dir, "embeddings").where(col("vec_id") < 500)
    val nodes = emb.select(col("vec_id").cast("long").as("v"))
    val n = 500.0
    val edges = graft.plans.TopK.perKey(
        graft.vector.ExactKNN.topKBatchHeap(emb, "vec_id", "embedding",
          emb.select(col("vec_id").as("qid"), col("embedding").as("qv")),
          "qid", "qv", k = 4)
          .where(col("qid") =!= col("id")),
        Seq("qid"), Seq("score" -> true, "id" -> false), 3)
      .select(col("qid").cast("long").as("src"), col("id").cast("long").as("dst"))
      .localCheckpoint(true)
    var rank = nodes.select(col("v"), lit(1.0 / n).as("r"))
    for (_ <- 1 to 3) {
      val contrib = edges.join(broadcast(rank), col("src") === col("v"))
        .select(col("dst"), (col("r") / lit(3.0)).as("c"))
        .groupBy(col("dst"))
        .agg(sort_array(collect_list(col("c"))).as("cs"))
        .select(col("dst"),
          aggregate(col("cs"), lit(0.0), (a, x) => a + x).as("s"))
      rank = nodes.join(broadcast(contrib), col("v") === col("dst"), "left")
        .select(col("v"),
          (lit(0.15 / n) + lit(0.85) * coalesce(col("s"), lit(0.0))).as("r"))
    }
    // floor(x·1e4 + 0.5)/1e4 both sides (the composite-score discipline):
    // with the sorted folds making the rank doubles bit-identical across
    // engines, this rounding form agrees on every input by construction
    rank.select(col("v").as("id"),
        (floor(col("r") * n * 10000.0 + 0.5) / 10000.0).as("pr_n"))
      .orderBy(col("id"))
  }

  /** The same k-NN graph through the LSH tables (r5 VERDICT #3): a
    * corpus-sized query side must never broadcast, so
    * [[graft.vector.LSHIndex.knnGraph]] meets the exploded (table, bucket)
    * rows of both sides on shuffled equi-joins. `exact = true` probes the
    * provable-superset radius, so the graph shares knn_graph's exact
    * oracle bit for bit (pinned in LSHSpec too). */
  private[graft] def knnGraphLshQ(spark: SparkSession, dir: String): DataFrame =
    lshIndex(spark, dir).knnGraph(tbl(spark, dir, "embeddings"),
        "vec_id", "embedding", k = 3, exact = true,
        nodesFilter = Some(col("vec_id") < 500))
      .select(col("qid"), col("id"), r4(col("score")).as("score"))
      .orderBy(col("qid").asc, col("score").desc, col("id").asc)
}

package graft

import graft.dedup.Dedup
import graft.expr.ExactSum
import graft.functions.VectorFunctions._
import graft.text.{BM25, TextAnalysis}
import graft.vector.{ExactKNN, IVFIndex, LSHIndex, PQIndex}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Shared gate plumbing: table readers, memo discipline, rounding, the BM25/KNN oracle-SQL builders every tier shares.
  *
  * One tier of [[Queries]] (split in round 12, r11 VERDICT #7 -
  * maintainability only): members keep their original relative order and
  * semantics, relaxed from `private` to `private[graft]` so the sibling
  * tier traits and the assembling object see them. The self-type gives
  * every tier access to the full mixed-in surface without a dependency
  * graph between the files. */
private[graft] trait QueriesSupport { this: Queries.type =>

  private[graft] def tbl(spark: SparkSession, dir: String, name: String): DataFrame =
    graft.sources.Tables.parquet(spark, dir, name)

  /** Per-gate recycling of checkpointed results (round 18, r17 VERDICT #5
    * / guide §5 memory hygiene): the incremental dedup funnels
    * localCheckpoint(true) a FRESH result frame on every call and nothing
    * ever unpersisted the previous run's blocks — each bench/Verify pass
    * accrued checkpoint RDDs until the ContextCleaner caught up, the exact
    * accumulation class the bench documents as suite-tail drag. Register
    * the fresh frame here; the previous one's blocks are freed NOW
    * (deterministically), not at some future GC. The previous frame is
    * dead by contract — gates hand their result to the harness, which
    * materializes it before the next call. */
  private val lastCheckpointed =
    scala.collection.mutable.HashMap.empty[(SparkSession, String, String), DataFrame]

  private[graft] def recycleCheckpoint(spark: SparkSession, dir: String,
                                       gate: String, fresh: DataFrame): DataFrame =
    lastCheckpointed.synchronized {
      lastCheckpointed.put((spark, dir, gate), fresh).foreach(Checkpoints.free)
      fresh
    }

  /** Nanos-safe events read — see [[graft.sources.Tables.events]]. */
  private[graft] def eventsTbl(spark: SparkSession, dir: String): DataFrame =
    graft.sources.Tables.events(spark, dir)

  /** Driver-side lookup of a query vector — this is a query *argument*
    * (≙ the reference caller passing `query_vector`, local_db.py:137), not a
    * data-plane collect. MEMOIZED per (session, dir, vecId) — round 17,
    * guide §1.2 "per-task work": ~34 gates re-ran this one-row filtered
    * parquet scan as a separate Spark job on EVERY timed run, paying a
    * driver round + scan for a 64-float constant the reference caller
    * holds in hand. Bounded: a few dozen (dir, vecId) pairs per process,
    * 64 floats each. */
  private val qvecCache =
    scala.collection.mutable.HashMap.empty[(SparkSession, String, Long), Array[Double]]

  private[graft] def qvec(spark: SparkSession, dir: String, vecId: Long): Array[Double] = {
    val key = (spark, dir, vecId)
    // compute-then-insert: the Spark action runs OUTSIDE the monitor
    // (round-17 ADVICE — the old getOrElseUpdate held the lock across a
    // full Spark job, serializing concurrent lookups); a racing duplicate
    // fetch is harmless (same immutable 64 floats)
    qvecCache.synchronized(qvecCache.get(key)) match {
      case Some(v) => v
      case None =>
        val v = tbl(spark, dir, "embeddings").where(col("vec_id") === vecId)
          .select(col("embedding")).head().getSeq[Float](0).map(_.toDouble).toArray
        qvecCache.synchronized(qvecCache.getOrElseUpdate(key, v))
    }
  }

  /** Memoized corpus row count per (session, dir, table) — the collection-
    * size scalar (≙ the reference's O(1) `len(self._documents)`,
    * local_db.py) that the incremental gates derive their 90/10 cut from.
    * Round 17: each incremental gate re-counted the corpus as its own
    * Spark job on every timed run; a deployment reads this from its
    * manifest, it never re-scans per query. Counts are immutable for a
    * given testdata dir (the driver's dirs are frozen snapshots). */
  private val tblCountCache =
    scala.collection.mutable.HashMap.empty[(SparkSession, String, String), Long]

  private[graft] def tblCount(spark: SparkSession, dir: String, name: String): Long = {
    val key = (spark, dir, name)
    // compute-then-insert, Spark action outside the monitor (qvec's rule)
    tblCountCache.synchronized(tblCountCache.get(key)) match {
      case Some(n) => n
      case None =>
        val n = tbl(spark, dir, name).count()
        tblCountCache.synchronized(tblCountCache.getOrElseUpdate(key, n))
    }
  }

  /** Drop the memoized query-argument scalars for `dir` — called by
    * [[graft.sources.Tables.invalidate]] so a writer invalidating a dir
    * clears BOTH layers (handles and the scalars derived through them);
    * the frozen-dir invariant is documented at the handle cache. */
  private[graft] def invalidateScalars(dir: String): Unit = {
    qvecCache.synchronized {
      qvecCache.filterInPlace { case ((_, d, _), _) => d != dir }
    }
    tblCountCache.synchronized {
      tblCountCache.filterInPlace { case ((_, d, _), _) => d != dir }
    }
  }

  private[graft] val r4 = (c: Column) => round(c, 4)

  /** Runs `f` (plan construction + eager materialization) with AQE off,
    * restoring the previous setting — round 17, the GraphIndex coverage-
    * walk discipline applied to the BATCH-BOUNDED incremental dedup
    * funnels: their frames are a few rows per incoming doc, so runtime
    * re-planning buys nothing, while AQE's per-exchange query-stage
    * materialization adds a driver-synchronized job round per broadcast/
    * shuffle of an already-tiny plan (measured in-JVM, interleaved arms:
    * dedup_incremental_durable 21 jobs → 13, median 4.24 → 3.00 s;
    * dedup_embedding_incremental 19 → 10 jobs, 2.19 → 1.62 s — the
    * AqeFunnelProbe tool). Guarded by the JVM-global
    * [[graft.vector.GraphIndex.aqeLock]] so two toggle sites can never
    * restore each other's midflight value. The caller must materialize
    * inside `f` (the returned frame's execution is what the toggle must
    * cover); corpus-scale plans KEEP AQE — this is only for funnels whose
    * per-batch boundedness is a documented contract.
    *
    * Threading contract (round-17 ADVICE): the lock serializes toggle
    * SITES against each other, nothing more — an unrelated query planned
    * on the same session during the window would silently run without
    * AQE. The toggle therefore assumes a single-threaded driver per
    * session, which is the bench/Verify harness's shape; a concurrent
    * server would scope this per-query via a forked session instead. */
  private[graft] def noAqe[T](spark: SparkSession)(f: => T): T =
    graft.vector.GraphIndex.aqeLock.synchronized {
      val prev = spark.conf.get("spark.sql.adaptive.enabled", "true")
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      try f finally spark.conf.set("spark.sql.adaptive.enabled", prev)
    }

  // Memo itself lives at package level (graft.Memo) since r8 so the
  // streaming gates share the same bounded-eviction discipline.
  private[graft] val memoMax = Memo.defaultMax

  private[graft] def unp(df: DataFrame): Unit = df.unpersist(blocking = false)

  /** Temp-dir build guard (round-11 review): a memo's dispose closure only
    * runs for a COMPLETED build, so a save/load that throws mid-way would
    * leak its temp directory (and half-written parquet) until reboot —
    * the disk transpose of the GraphIndex unpersist-before-throw rule.
    * Wrap the steps between createTempDirectory and the memo tuple.
    * `cleanup` releases whatever in-memory resource the body had open
    * (the cached-frames analog of the same leak); both cleanup and the
    * rmrf are swallowed so they can never MASK the build failure (the
    * Memo.dispose discipline). */
  private[graft] def guardTmp[T](tmp: java.nio.file.Path,
                          cleanup: () => Unit = () => ())(f: => T): T =
    try f catch { case e: Throwable =>
      try cleanup() catch { case _: Throwable => () }
      try graft.streaming.StreamingGates.rmrf(tmp) catch { case _: Throwable => () }
      throw e
    }

  /** Memoized BM25 index per (session, documents dir) — the analog of the
    * reference holding `_bm25` on the instance (local_db.py:38): built once,
    * reused by every text/hybrid query against the same collection. */
  private[graft] val bm25Cache = new Memo[BM25.Index](memoMax, "bm25Cache")(_.dispose())

  private[graft] def bm25Index(spark: SparkSession, dir: String): BM25.Index =
    bm25Cache.get(spark, dir)(BM25.build(tbl(spark, dir, "documents"), "doc_id", "text"))

  /** Incrementally-extended BM25 index (r5 VERDICT #6): built over the
    * first 80% of the corpus, appended with the rest through the
    * mergeable forward rows/df delta — statistics provably equal to the full
    * rebuild (BM25IncrementalSpec), so the gate shares text_bm25's
    * full-rebuild oracle verbatim. */
  private[graft] val bm25IncCache = new Memo[BM25.Index](memoMax, "bm25IncCache")(_.dispose())

  private[graft] def bm25IncIndex(spark: SparkSession, dir: String): BM25.Index =
    bm25IncCache.get(spark, dir) {
      val docs = tbl(spark, dir, "documents")
      // count-derived 80/20 split (r6 VERDICT nit: the old literal 400 was
      // 80% only at sf0.01) — one driver scalar, like incrementalCut
      val cut = math.ceil(0.8 * docs.count()).toLong
      BM25.build(docs.where(col("doc_id") < cut), "doc_id", "text")
        .append(docs.where(col("doc_id") >= cut), "doc_id", "text")
    }

  /** DuckDB fragment: squared L2 between embedding and qv (both DOUBLE[]). */
  private[graft] val sqDistSql =
    "list_sum(list_transform(range(1, 65), i -> (e.embedding[i]::DOUBLE - q.qv[i]) * (e.embedding[i]::DOUBLE - q.qv[i])))"

  /** Exact cosine top-k oracle — shared by the IVF (nprobe = nlist) and
    * SQ8 (interval-bound proof) cosine arms. */
  private[graft] def cosineKnnSql(vecId: Long, k: Int): String =
    s"""WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = $vecId)
       |SELECT e.vec_id AS id,
       |       round(list_sum(list_transform(range(1, 65), i -> e.embedding[i]::DOUBLE * q.qv[i]))
       |             / (sqrt(list_sum(list_transform(range(1, 65), i -> e.embedding[i]::DOUBLE * e.embedding[i]::DOUBLE)))
       |                * sqrt(list_sum(list_transform(range(1, 65), i -> q.qv[i] * q.qv[i])))), 4) AS score
       |FROM embeddings e, q
       |ORDER BY score DESC, id LIMIT $k""".stripMargin

  private[graft] def knnSql(vecId: Long, k: Int, where: String = ""): String =
    s"""WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = $vecId)
       |SELECT e.vec_id AS id,
       |       round(1.0/(1.0 + $sqDistSql), 4) AS score
       |FROM embeddings e, q $where
       |ORDER BY score DESC, id LIMIT $k""".stripMargin

  /** Shared BM25 CTE block (rank_bm25-compatible; SURVEY §2.3-K1, §2.4-I1).
    * `joinedCorpus = true` scopes the corpus to documents that HAVE an
    * embedding — the domain a facade collection actually ingests
    * (docs ⋈ embeddings). The two domains coincide at sf ≤ 0.01 but NOT at
    * sf0.1 (5 000 docs vs 2 000 embeddings), so facade-backed oracles must
    * rank over the ingested corpus or their idf/avgdl silently drift at
    * scale (r5 sf0.1 cross-check finding). */
  private[graft] def bm25Ctes(query: String, joinedCorpus: Boolean = false): String = {
    val corpus =
      if (joinedCorpus) "(SELECT * FROM documents WHERE doc_id IN (SELECT vec_id FROM embeddings))"
      else "documents"
    s"""d AS (SELECT doc_id AS id, string_split_regex(trim(text), '\\s+') AS toks FROM $corpus),
       |dl AS (SELECT id, len(toks)::DOUBLE AS dl FROM d),
       |corpus AS (SELECT count(*) AS n, avg(dl) AS avgdl FROM dl),
       |tf AS (SELECT id, unnest(toks) AS term FROM d),
       |tfg AS (SELECT id, term, count(*)::DOUBLE AS tf FROM tf GROUP BY 1, 2),
       |dfreq AS (SELECT term, count(*)::DOUBLE AS df FROM tfg GROUP BY 1),
       |raw AS (SELECT term, ln((n - df + 0.5)/(df + 0.5)) AS raw_idf FROM dfreq, corpus),
       |eps AS (SELECT avg(raw_idf) AS avg_idf FROM raw),
       |idf AS (SELECT term, CASE WHEN raw_idf < 0 THEN 0.25 * avg_idf ELSE raw_idf END AS idf FROM raw, eps),
       |qt AS (SELECT term, count(*)::DOUBLE AS qtf FROM (SELECT unnest(string_split_regex(trim('$query'), '\\s+')) AS term) GROUP BY 1),
       |contrib AS (
       |  SELECT tfg.id,
       |         sum(qt.qtf * idf.idf * tfg.tf * (1.5 + 1.0) /
       |             (tfg.tf + 1.5 * (1.0 - 0.75 + 0.75 * dl.dl / corpus.avgdl))) AS score
       |  FROM tfg JOIN qt USING (term) JOIN idf USING (term) JOIN dl USING (id), corpus
       |  GROUP BY 1),
       |tscore AS (
       |  SELECT dl.id, coalesce(contrib.score, 0.0) AS score
       |  FROM dl LEFT JOIN contrib USING (id))""".stripMargin
  }

  val bm25Query = "spark fast query join table"

  /** Bulk-BM25 oracle: the corpus-side CTE chain once, one scoring block
    * per query (qt/contrib are the only query-dependent pieces), each cut
    * to top-k on the RAW score (matching the Spark-side heap cut), rounded
    * in the outer select. */
  private[graft] def bm25BatchSql(qs: Seq[(Long, String)], k: Int): String = {
    val shared =
      raw"""d AS (SELECT doc_id AS id, string_split_regex(trim(text), '\s+') AS toks FROM documents),
           |dl AS (SELECT id, len(toks)::DOUBLE AS dl FROM d),
           |corpus AS (SELECT count(*) AS n, avg(dl) AS avgdl FROM dl),
           |tf AS (SELECT id, unnest(toks) AS term FROM d),
           |tfg AS (SELECT id, term, count(*)::DOUBLE AS tf FROM tf GROUP BY 1, 2),
           |dfreq AS (SELECT term, count(*)::DOUBLE AS df FROM tfg GROUP BY 1),
           |raw AS (SELECT term, ln((n - df + 0.5)/(df + 0.5)) AS raw_idf FROM dfreq, corpus),
           |eps AS (SELECT avg(raw_idf) AS avg_idf FROM raw),
           |idf AS (SELECT term, CASE WHEN raw_idf < 0 THEN 0.25 * avg_idf ELSE raw_idf END AS idf FROM raw, eps)""".stripMargin
    val blocks = qs.map { case (qid, q) =>
      raw"""qt$qid AS (SELECT term, count(*)::DOUBLE AS qtf FROM (SELECT unnest(string_split_regex(trim('$q'), '\s+')) AS term) GROUP BY 1),
           |c$qid AS (
           |  SELECT tfg.id,
           |         sum(qt$qid.qtf * idf.idf * tfg.tf * (1.5 + 1.0) /
           |             (tfg.tf + 1.5 * (1.0 - 0.75 + 0.75 * dl.dl / corpus.avgdl))) AS score
           |  FROM tfg JOIN qt$qid USING (term) JOIN idf USING (term) JOIN dl USING (id), corpus
           |  GROUP BY 1),
           |s$qid AS (SELECT $qid AS qid, id, score FROM c$qid
           |          ORDER BY score DESC, id LIMIT $k)""".stripMargin
    }
    val union = qs.map { case (qid, _) => s"SELECT * FROM s$qid" }.mkString(" UNION ALL ")
    s"""WITH $shared,
       |${blocks.mkString(",\n")}
       |SELECT qid, id, round(score, 4) AS score FROM ($union)
       |ORDER BY qid, score DESC, id""".stripMargin
  }

  private[graft] val bm25BatchQueries = Seq(
    1L -> bm25Query,
    2L -> "data column agg merge",
    3L -> "customer order stream window")
}

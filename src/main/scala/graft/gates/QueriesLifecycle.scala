package graft

import graft.dedup.Dedup
import graft.expr.ExactSum
import graft.functions.VectorFunctions._
import graft.text.{BM25, TextAnalysis}
import graft.vector.{ExactKNN, IVFIndex, LSHIndex, PQIndex}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Collection lifecycle: metadata-variant ingest, save/load round-trips, incremental add, lazy-open, and the per-index-family facade lifecycles (ivf, ivfpq residual, lsh, graph).
  *
  * One tier of [[Queries]] (split in round 12, r11 VERDICT #7 -
  * maintainability only): members keep their original relative order and
  * semantics, relaxed from `private` to `private[graft]` so the sibling
  * tier traits and the assembling object see them. The self-type gives
  * every tier access to the full mixed-in surface without a dependency
  * graph between the files. */
private[graft] trait QueriesLifecycle { this: Queries.type =>

  /** F1 typed metadata equality through the VARIANT path: the collection
    * carries per-doc JSON metadata ({lang, source, n_chars}), and the
    * conditions compare canonical-JSON renderings of variant extractions —
    * "en" (string) matches only the typed string, never a bare number
    * (ldb:308's typed dict equality). Same result contract as meta_filter,
    * but exercised through ingest-with-metadata + queryMetadata instead of
    * a relational WHERE over parquet columns. */
  private[graft] val metaDbCache = new Memo[VectorDatabase](memoMax, "metaDbCache")(_.close())

  private[graft] def metaDb(spark: SparkSession, dir: String): VectorDatabase =
    metaDbCache.get(spark, dir) {
      val src = tbl(spark, dir, "documents")
        .join(tbl(spark, dir, "embeddings"), col("doc_id") === col("vec_id"))
        .withColumn("meta_json",
          to_json(struct(col("lang"), col("source"), col("n_chars"))))
      graft.sources.CollectionLoader.load(spark, src, 64, "text", "embedding",
        "doc_id", Some("meta_json"))
    }

  private[graft] def metaVariant(spark: SparkSession, dir: String): DataFrame =
    metaDb(spark, dir).queryMetadata(Map("lang" -> "en", "source" -> "src3"), topK = 50)

  /** S3+S4 through the driver gate: save the flat collection to a folder,
    * load it back as a NEW instance (manifest dispatch, persisted data
    * re-read from parquet), and answer the exact-KNN oracle from the
    * loaded copy. The memo disposes the instance AND its folder. */
  private[graft] val loadedDbCache =
    new Memo[(VectorDatabase, java.nio.file.Path)](memoMax, "loadedDbCache")({ case (db, p) =>
      db.close(); graft.streaming.StreamingGates.rmrf(p)
    })

  private[graft] def loadedDb(spark: SparkSession, dir: String): VectorDatabase =
    loadedDbCache.get(spark, dir) {
      val tmp = java.nio.file.Files.createTempDirectory("graft_saveload")
      guardTmp(tmp) {
        vdb(spark, dir).save(tmp.toString)
        (VectorDatabase.load(spark, tmp.toString), tmp)
      }
    }._1

  private[graft] def saveLoadKnn(spark: SparkSession, dir: String): DataFrame =
    loadedDb(spark, dir)
      .queryVector(qvec(spark, dir, 7).map(_.toFloat), topK = 10)
      .select(col("id"), r4(col("score")).as("score"))
      .orderBy(col("score").desc, col("id").asc)

  /** S2+K4 incremental index maintenance end to end (r4 VERDICT #1): save
    * an ivf collection over the first 90% of the embeddings, LOAD it (the
    * trained centroids come off disk), `addBulk` the remaining 10% — the
    * loaded index adopts the batch through
    * [[graft.vector.IVFIndex.appendAssign]] (no Lloyd stage, no re-cluster;
    * IncrementalAddSpec pins centroid identity across the add) — then
    * answer the exact-KNN oracle from the UPDATED index. efSearch =
    * 10 × nlist makes the probe exact-recoverable (nprobe = nlist), so the
    * gate verifies the appended union's completeness against the full-table
    * oracle; nprobe ≪ nlist recall of appended rows is spec-pinned. Dense
    * rowids continue across save/load/add (vec_id ≡ rowid by ingest order),
    * which is what lets this share the vec_id-keyed oracle at all. */
  private[graft] val incAddDbCache =
    new Memo[(VectorDatabase, java.nio.file.Path)](memoMax, "incAddDbCache")({ case (db, p) =>
      db.close(); graft.streaming.StreamingGates.rmrf(p)
    })

  private[graft] def incAddDb(spark: SparkSession, dir: String): VectorDatabase =
    incAddDbCache.get(spark, dir) {
      val e = tbl(spark, dir, "embeddings")
        .select(col("vec_id"), col("embedding"),
          col("vec_id").cast("string").as("doc"))
      val n = e.count()
      val cut = n - math.max(1L, n / 10) // the last 10% arrives as the append batch
      val nlist = 16
      // explicit 'ivf' (round 7: 'hnsw' now maps to the real graph index;
      // this gate pins the IVF substitute's appendAssign path by name)
      val db = VectorDatabase.create(spark, 64, "ivf",
        ivfClusters = nlist, efSearch = 10 * nlist)
      db.addBulk(e.where(col("vec_id") < cut), "doc", "embedding", None, "vec_id")
      val tmp = java.nio.file.Files.createTempDirectory("graft_incadd")
      // `open` tracks whichever instance currently holds cached frames so
      // a failure at ANY step releases it (close() is idempotent-safe)
      var open: VectorDatabase = db
      guardTmp(tmp, () => open.close()) {
        db.save(tmp.toString) // forces the IVF build over the base corpus
        db.close()
        val loaded = VectorDatabase.load(spark, tmp.toString)
        open = loaded
        loaded.addBulk(e.where(col("vec_id") >= cut), "doc", "embedding", None, "vec_id")
        (loaded, tmp)
      }
    }._1

  private[graft] def incrementalAddKnn(spark: SparkSession, dir: String): DataFrame =
    incAddDb(spark, dir)
      .queryVector(qvec(spark, dir, 13).map(_.toFloat), topK = 10)
      .select(col("id"), r4(col("score")).as("score"))
      .orderBy(col("score").desc, col("id").asc)

  /** S4 lazy-load mode, oracle-gated (r4 VERDICT #2): SAVE the
    * incrementally-appended collection above (so incremental maintenance is
    * also pinned to SURVIVE persistence — the appended rows' assignments
    * round-trip through the partitioned parquet), reopen with
    * `lazyIndexes = true` — the assignment frame stays an on-disk
    * partitioned-parquet read (the 100 TB mode; probes prune files by
    * cluster, IVFSpec + IncrementalAddSpec pin PartitionFilters) — and
    * answer the full-corpus exact-KNN oracle through the facade.
    * efSearch = 10 × nlist ⇒ nprobe = nlist ⇒ exact-recoverable, same
    * discipline as ann_ivf. */
  private[graft] val lazyDbCache =
    new Memo[(VectorDatabase, java.nio.file.Path)](memoMax, "lazyDbCache")({ case (db, p) =>
      db.close(); graft.streaming.StreamingGates.rmrf(p)
    })

  private[graft] def lazyIvfDb(spark: SparkSession, dir: String): VectorDatabase =
    lazyDbCache.get(spark, dir) {
      val tmp = java.nio.file.Files.createTempDirectory("graft_lazyivf")
      guardTmp(tmp) {
        incAddDb(spark, dir).save(tmp.toString)
        (VectorDatabase.load(spark, tmp.toString, lazyIndexes = true), tmp)
      }
    }._1

  private[graft] def annIvfLazy(spark: SparkSession, dir: String): DataFrame =
    lazyIvfDb(spark, dir)
      .queryVector(qvec(spark, dir, 29).map(_.toFloat), topK = 10)
      .select(col("id"), r4(col("score")).as("score"))
      .orderBy(col("score").desc, col("id").asc)

  /** Memoized `ivfpq`-typed facade through its FULL reference lifecycle
    * (r11 VERDICT #1 — the residual quantizer faiss.IndexIVFPQ actually is,
    * wired behind the type in round 12): create → addBulk the first 90% →
    * save (forces the coarse-quantizer + residual-codebook builds; codes +
    * codebooks + centroids persist as three parquet frames, the codes
    * cluster-partitioned) → load → addBulk the last 10% (the LOADED
    * quantizer encodes the batch — no retraining, ResidualPQSpec pins
    * object identity). efSearch = 10 × nlist takes the exact escape hatch:
    * the per-row stored reconstruction error err = ‖x − recon‖ brackets the
    * true distance by the triangle inequality, so a codes-only bound pass +
    * float rerank reproduces the flat scan — appended rows included, since
    * err is row-exact regardless of quantizer fit. Every gate off this
    * instance therefore shares the exact-KNN oracle; tuned-nprobe residual
    * ADC recall is spec-pinned (ResidualPQSpec), not oracle-gated. */
  private[graft] val ivfpqDbCache =
    new Memo[(VectorDatabase, java.nio.file.Path)](memoMax, "ivfpqDbCache")({ case (db, p) =>
      db.close(); graft.streaming.StreamingGates.rmrf(p)
    })

  private[graft] def ivfpqDb(spark: SparkSession, dir: String): VectorDatabase =
    ivfpqDbCache.get(spark, dir) {
      val e = tbl(spark, dir, "embeddings")
        .select(col("vec_id"), col("embedding"),
          col("vec_id").cast("string").as("doc"))
      val n = e.count()
      val cut = n - math.max(1L, n / 10) // the last 10% arrives post-load
      val nlist = 16
      val db = VectorDatabase.create(spark, 64, "ivfpq",
        ivfClusters = nlist, efSearch = 10 * nlist)
      db.addBulk(e.where(col("vec_id") < cut), "doc", "embedding", None, "vec_id")
      val tmp = java.nio.file.Files.createTempDirectory("graft_ivfpq")
      var open: VectorDatabase = db
      guardTmp(tmp, () => open.close()) {
        db.save(tmp.toString) // forces the IVF + residual-PQ builds
        db.close()
        val loaded = VectorDatabase.load(spark, tmp.toString)
        open = loaded
        loaded.addBulk(e.where(col("vec_id") >= cut), "doc", "embedding", None, "vec_id")
        (loaded, tmp)
      }
    }._1

  /** S1+S2+S3+S4+K6 through the residual path in one gate: the loaded,
    * incrementally-appended ivfpq facade answers the full-corpus exact-KNN
    * oracle via the exact escape hatch. */
  private[graft] def facadeIvfpqKnn(spark: SparkSession, dir: String): DataFrame =
    ivfpqDb(spark, dir)
      .queryVector(qvec(spark, dir, 31).map(_.toFloat), topK = 10)
      .select(col("id"), r4(col("score")).as("score"))
      .orderBy(col("score").desc, col("id").asc)

  /** F5 through the ivfpq exact hatch: the hatch is the exact scan over
    * the pre-filtered corpus, so the filtered answer shares the filtered
    * exact-KNN oracle. */
  private[graft] def knnPrefilterIvfpq(spark: SparkSession, dir: String): DataFrame =
    ivfpqDb(spark, dir)
      .queryVector(qvec(spark, dir, 47).map(_.toFloat), topK = 5,
        preFilter = Some(col("id") % 2 === 0))
      .select(col("id"), r4(col("score")).as("score"))
      .orderBy(col("score").desc, col("id").asc)

  /** S3+S4 for the LSH index type, oracle-gated — completes the save/load
    * matrix (flat: save_load_knn; ivf eager+lazy: incremental_add_knn /
    * ann_ivf_lazy; ivfpq: facade_ivfpq_knn's full lifecycle through the
    * ivfpq exact hatch). efSearch = 6400 ⇒ multiprobe radius 128, beyond the
    * provable-superset bound (maxNorm + qNorm)/bucketLength ≈ 37 for this
    * corpus, so the loaded facade probe is exact-recoverable and shares
    * the exact-KNN oracle. */
  private[graft] val lshDbCache =
    new Memo[(VectorDatabase, java.nio.file.Path)](memoMax, "lshDbCache")({ case (db, p) =>
      db.close(); graft.streaming.StreamingGates.rmrf(p)
    })

  private[graft] def lshLoadedDb(spark: SparkSession, dir: String): VectorDatabase =
    lshDbCache.get(spark, dir) {
      val e = tbl(spark, dir, "embeddings")
        .select(col("vec_id"), col("embedding"),
          col("vec_id").cast("string").as("doc"))
      val db = VectorDatabase.create(spark, 64, "lsh", efSearch = 6400)
      db.addBulk(e, "doc", "embedding", None, "vec_id")
      val tmp = java.nio.file.Files.createTempDirectory("graft_lshsave")
      guardTmp(tmp, () => db.close()) {
        db.save(tmp.toString)
        db.close()
        (VectorDatabase.load(spark, tmp.toString), tmp)
      }
    }._1

  private[graft] def saveLoadLshKnn(spark: SparkSession, dir: String): DataFrame =
    lshLoadedDb(spark, dir)
      .queryVector(qvec(spark, dir, 33).map(_.toFloat), topK = 10)
      .select(col("id"), r4(col("score")).as("score"))
      .orderBy(col("score").desc, col("id").asc)

  /** S3+S4 for the 'graph' index type — the navigable graph's edges/
    * vectors/params artifacts round-trip through save → load and the
    * LOADED traversal answers the exact-KNN oracle at the unbounded-beam
    * escape hatch (efSearch ≥ corpus), completing the persistence matrix:
    * flat / ivf eager+lazy / lsh / graph all oracle-gated off disk. */
  private[graft] val graphSaveDbCache =
    new Memo[(VectorDatabase, java.nio.file.Path)](memoMax, "graphSaveDbCache")({ case (db, p) =>
      db.close(); graft.streaming.StreamingGates.rmrf(p)
    })

  private[graft] def graphLoadedDb(spark: SparkSession, dir: String): VectorDatabase =
    graphSaveDbCache.get(spark, dir) {
      val e = tbl(spark, dir, "embeddings")
        .select(col("vec_id"), col("embedding"),
          col("vec_id").cast("string").as("doc"))
      val db = VectorDatabase.create(spark, 64, "graph", efSearch = Int.MaxValue)
      db.addBulk(e, "doc", "embedding", None, "vec_id")
      val tmp = java.nio.file.Files.createTempDirectory("graft_graphsave")
      guardTmp(tmp, () => db.close()) {
        db.save(tmp.toString)
        db.close()
        (VectorDatabase.load(spark, tmp.toString), tmp)
      }
    }._1

  private[graft] def saveLoadGraphKnn(spark: SparkSession, dir: String): DataFrame =
    graphLoadedDb(spark, dir)
      .queryVector(qvec(spark, dir, 61).map(_.toFloat), topK = 10)
      .select(col("id"), r4(col("score")).as("score"))
      .orderBy(col("score").desc, col("id").asc)

  /** S2+K4 incremental maintenance for the graph type — the graph analog
    * of `incremental_add_knn`: build the navigable graph over the first
    * 90% of the embeddings (save forces the build), LOAD it (edges +
    * vectors come off disk), `addBulk` the last 10% — the loaded graph
    * adopts the batch through [[graft.vector.GraphIndex.append]]
    * (tuned-beam k-NN edges into the existing graph + merged-rank
    * skip-ring edges incident to the batch; the base graph is untouched,
    * cost ∝ batch) — then answer the full-corpus exact-KNN oracle through
    * the unbounded beam: appends preserve skip-ring connectivity, so the
    * exact escape hatch survives incremental maintenance. Completes the
    * incremental matrix (ivf: incremental_add_knn; jaccard:
    * dedup_incremental; embedding: dedup_embedding_incremental; bm25:
    * text_bm25_incremental). */
  private[graft] val graphIncDbCache =
    new Memo[(VectorDatabase, java.nio.file.Path)](memoMax, "graphIncDbCache")({ case (db, p) =>
      db.close(); graft.streaming.StreamingGates.rmrf(p)
    })

  private[graft] def graphIncDb(spark: SparkSession, dir: String): VectorDatabase =
    graphIncDbCache.get(spark, dir) {
      val e = tbl(spark, dir, "embeddings")
        .select(col("vec_id"), col("embedding"),
          col("vec_id").cast("string").as("doc"))
      val n = e.count()
      val cut = n - math.max(1L, n / 10) // the last 10% arrives as the append batch
      // same cheap approximate-edge build as [[graphDb]] — append + query
      // exactness ride the skip-ring, not edge quality
      val db = VectorDatabase.create(spark, 64, "graph",
        efConstruction = 25, m = 8, ivfClusters = 16, efSearch = Int.MaxValue)
      db.addBulk(e.where(col("vec_id") < cut), "doc", "embedding", None, "vec_id")
      val tmp = java.nio.file.Files.createTempDirectory("graft_graphinc")
      // phase timing on stderr (same attribution discipline as [memo]):
      // this build is the suite's largest standalone cold artifact
      def phase[A](label: String)(f: => A): A = {
        val t0 = System.nanoTime()
        val r = f
        System.err.println(
          f"[graphinc] $label ${(System.nanoTime() - t0) / 1e9}%.2f s")
        r
      }
      var open: VectorDatabase = db
      guardTmp(tmp, () => open.close()) {
        phase("build+save")(db.save(tmp.toString)) // forces the graph build
        db.close()
        val loaded = phase("load")(VectorDatabase.load(spark, tmp.toString))
        open = loaded
        phase("append")(
          loaded.addBulk(e.where(col("vec_id") >= cut), "doc", "embedding", None, "vec_id"))
        (loaded, tmp)
      }
    }._1

  private[graft] def incrementalAddGraphKnn(spark: SparkSession, dir: String): DataFrame =
    graphIncDb(spark, dir)
      .queryVector(qvec(spark, dir, 67).map(_.toFloat), topK = 10)
      .select(col("id"), r4(col("score")).as("score"))
      .orderBy(col("score").desc, col("id").asc)
}

package graft.vector

import graft.model.Manifest
import graft.plans.KnnTopK
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.storage.StorageLevel

/** The one vector index a collection holds (≙ the reference's single
  * `self.index`, local_db.py:42–52): one case per effective index type,
  * each wrapping an existing index class, and each type's knob mapping.
  * `data` is the canonical (id, doc, vector, meta) frame, `n` its row
  * count. */
private[graft] sealed trait AnnIndex {
  import AnnIndex._

  /** Top-k probe for a block of driver-held query vectors (qid, vector or
    * null): (qid, id, score), qid asc, score desc, id asc — one query and
    * a query matrix take this one plan (≙ the reference's one
    * `index.search`, ldb:137–200). `pre` is the optional pre-filter,
    * PUSHED INTO the index probe (r2 VERDICT next-round #6): a left-semi
    * join of the filtered ids under the search operator's corpus side, so
    * cluster/bucket pruning still happens — a filtered IVF query reads
    * nprobe/nlist of the data instead of silently degenerating to a full
    * exact scan. For ivf and ivfpq the corpus side also keeps only the
    * cells the block probes, so an `open`ed on-disk index reads only
    * those `cluster=` directories. */
  def searchBatch(data: DataFrame, n: Long, manifest: Manifest,
                  block: Seq[(Long, Array[Double])], k: Int,
                  pre: Option[Column] = None): DataFrame = {
    val queries = KnnTopK.block(data.sparkSession, block)
    val vectors = block.map(_._2)
    val ids = pre.map(p => data.where(p).select(col("id")))
    // a filter thins every probed partition, so widen the probe budget to
    // keep ≥ topK survivors likely (facade doc: filtered probes stay
    // probe-bounded; efSearch ≥ 10 × nlist is the exact escape hatch)
    val widen = if (pre.isDefined) 4 else 1
    this match {
      case Ivf(ivf) =>
        // hnsw-substitute recall knob: ef_search → nprobe (SURVEY §2.5.2)
        val nprobe = widen * math.max(1, manifest.efSearch / 10)
        ivf.searchBatch(queries, "qid", "qv", k, nprobe,
          restrict = KnnTopK.Restrict(ids, ivf.probedCells(vectors, nprobe)))
      case IvfPq(rpq) if manifest.efSearch < 10 * manifest.ivfClusters =>
        // residual ADC: reference nprobe rule max(1, ivf_clusters // 10) on
        // the CONFIGURED cluster count (ldb:52) — capped naturally by nlist
        val nprobe = widen * IVFIndex.defaultNprobe(manifest.ivfClusters)
        rpq.searchBatch(queries, "qid", "qv", k, nprobe,
          KnnTopK.Restrict(ids, rpq.probedCells(vectors, nprobe)))
      case Pq(pq) =>
        // raw PQ (FAISS IndexPQ): flat ADC over the compressed codes — no
        // coarse quantizer, the probe IS the full codes scan
        pq.searchBatch(queries, "qid", "qv", k, KnnTopK.Restrict(ids))
      case Lsh(lsh) =>
        // ef_search → multiprobe radius (50 ≙ the reference's default
        // ef_search ↔ radius 1; radius 0 is the pure bucket probe);
        // a filter widens the radius by one ring
        lsh.searchBatch(queries, "qid", "qv", k,
          probeRadius = math.max(0, manifest.efSearch / 50) + (widen / 4),
          restrict = KnnTopK.Restrict(ids))
      case Graph(graph) =>
        // ef_search → traversal beam, its native hnsw meaning; ≥ corpus
        // size ⇒ unbounded (exact); a filter widens the beam like every
        // filtered probe (restrict applies before the final cut — see
        // GraphIndex.searchBatch's filtered-ANN contract)
        val ef =
          if (manifest.efSearch >= n) 0
          else widen * math.max(k, manifest.efSearch)
        graph.searchBatch(queries, "qid", "qv", k, ef = ef, restrict = ids)
      case IvfPq(_) | Flat =>
        // flat, and ivfpq's exact escape hatch (efSearch ≥ 10 × nlist):
        // the exact answer is the exact scan, the filter a plain `where`
        ExactKNN.topKBatch(pre.fold(data)(data.where), "id", "vector", queries, "qid", "qv", k)
    }
  }

  /** [[searchBatch]] for one query vector: (id, score), score desc, id asc. */
  def search(data: DataFrame, n: Long, manifest: Manifest,
             q: Array[Double], k: Int, pre: Option[Column] = None): DataFrame =
    searchBatch(data, n, manifest, Seq((0L, q)), k, pre).select(col("id"), col("score"))

  /** Adopts a batch through the EXISTING quantizer: the index over old ∪ batch. */
  def append(batch: DataFrame, manifest: Manifest): AnnIndex = this match {
    case Ivf(ivf) => Ivf(ivf.appendAssign(batch, "id", "vector"))
    // residual append: nearest TRAINED centroid + existing codebooks; the
    // per-row stored err keeps the exact-hatch bracket valid for appended
    // rows regardless of quantizer fit (ResidualPQ.append's contract)
    case IvfPq(rpq) => IvfPq(rpq.append(batch, "id", "vector"))
    case Pq(pq) => Pq(pq.append(batch, "id", "vector"))
    case Lsh(lsh) => Lsh(lsh.append(batch, "id", "vector"))
    // insert-time beam = efConstruction: hnsw's own meaning of
    // ef_construction is the candidate-list width during insertion, so
    // the append's edge-finding search honors it rather than a fixed 64
    case Graph(graph) => Graph(graph.append(batch, "id", "vector",
      k = math.max(1, manifest.m),
      ef = math.max(math.max(1, manifest.m) + 1, manifest.efConstruction)))
    case Flat => Flat
  }

  /** Writes the artifacts [[AnnIndex.load]] reads under `indexDir`. */
  def save(indexDir: String): Unit = this match {
    case Ivf(ivf) =>
      IVFIndex.centroidsToDf(ivf.assignments.sparkSession, ivf).write.mode("overwrite")
        .parquet(s"$indexDir/centroids")
      ivf.assignments.write.mode("overwrite")
        .partitionBy("cluster") // probed-cluster partition pruning at scale
        .parquet(s"$indexDir/assignments")
    // residual PQ IS the ivfpq index (round 12): codes carry the coarse
    // assignment per row and the save bundles the coarse centroids, so
    // no separate assignments frame is persisted — the compressed codes
    // are the corpus-sized artifact, written cluster-partitioned for
    // probed-cluster pruning at rest
    case IvfPq(rpq) => ResidualPQ.save(rpq, s"$indexDir/pq")
    case Pq(pq) => PQIndex.save(pq, s"$indexDir/pq")
    case Lsh(lsh) => LSHIndex.save(lsh, s"$indexDir/lsh")
    case Graph(graph) => GraphIndex.save(graph, s"$indexDir/graph")
    case Flat => () // flat: data + manifest only
  }

  /** Releases every frame this index persisted. */
  def dispose(): Unit = this match {
    case Ivf(ivf) => ivf.dispose()
    case IvfPq(rpq) => rpq.dispose()
    case Pq(pq) => pq.dispose()
    case Lsh(lsh) => lsh.dispose()
    case Graph(graph) => graph.dispose()
    case Flat => ()
  }
}

private[graft] object AnnIndex {

  /** `ivf`: the plain IVF probe, an HNSW capability substitute. */
  final case class Ivf(index: IVFIndex) extends AnnIndex
  /** `ivfpq`: residual PQ, what faiss.IndexIVFPQ means (ldb:50–52). */
  final case class IvfPq(index: ResidualPQ) extends AnnIndex
  /** `pq`: raw product quantization (FAISS IndexPQ). */
  final case class Pq(index: PQIndex) extends AnnIndex
  /** `lsh`: bucketed random-projection LSH (SURVEY §2.3-K5). */
  final case class Lsh(index: LSHIndex) extends AnnIndex
  /** `graph`, and `hnsw` since round 7: the navigable-graph index. */
  final case class Graph(index: GraphIndex) extends AnnIndex
  /** `flat` (faiss.IndexFlatL2, ldb:48), and a degraded ivf/ivfpq build. */
  case object Flat extends AnnIndex

  /** ef_construction → build quality (r4 VERDICT #7): more ef_construction
    * = a better-centered quantizer = better recall at the same nprobe, the
    * same contract the hnsw knob carries. It maps to full-corpus Lloyd
    * refinement passes after sample training: the reference default (200,
    * ldb:24) buys one pass, each additional 200 one more, capped at 3
    * (diminishing returns — k-means converges fast; unbounded mapping would
    * let a copied hnsw config schedule 10 corpus scans). <200 (a cheap-build
    * request) skips refinement entirely — sample-trained centroids only. */
  def refineItersFor(efConstruction: Int): Int =
    math.min(3, efConstruction / 200)

  /** PQ sub-quantizer count must divide dim; adapt the requested
    * pq_code_size down to the nearest divisor (≙ FAISS's d % M == 0
    * requirement — the reference would crash, we degrade). */
  private def pqM(manifest: Manifest): Int =
    (math.min(manifest.pqCodeSize, manifest.dim) to 1 by -1)
      .find(manifest.dim % _ == 0).get

  /** Builds the index `manifest.effectiveType` names over a non-empty
    * corpus. The returned manifest records the tiny-corpus degrade: an
    * ivf/ivfpq build whose coarse quantizer collapses to one cluster is
    * effectively flat (≙ the reference mutating index_type on train
    * fallback, ldb:101–111 — the same rung applies to the ivfpq request,
    * whose PQ stage is moot once the coarse quantizer collapses). */
  def build(data: DataFrame, manifest: Manifest): (AnnIndex, Manifest) =
    manifest.effectiveType match {
      case "ivf" | "ivfpq" =>
        val ivf = IVFIndex.build(data, "id", "vector", manifest.ivfClusters,
          refineIters = refineItersFor(manifest.efConstruction))
        if (ivf.nlist <= 1) {
          ivf.dispose()
          (Flat, manifest.copy(effectiveType = "flat"))
        } else if (manifest.effectiveType == "ivf") (Ivf(ivf), manifest)
        else {
          // codebooks train on x − centroid(x) residuals. The codes carry each
          // row's cluster, so no ivfpq query reads the IVF's assignments (a
          // float copy of the corpus): materialize the codes, then release it
          val rpq = ResidualPQ.build(ivf, manifest.dim, pqM(manifest))
          rpq.codes.count()
          ivf.dispose()
          (IvfPq(rpq), manifest)
        }
      case "pq" =>
        (Pq(PQIndex.build(data, "id", "vector", manifest.dim, pqM(manifest))), manifest)
      case "lsh" =>
        // M → numHashTables (r4 VERDICT #7): the reference's hnsw
        // links-per-node knob controls recall-vs-memory at build time; its
        // LSH analog is the table count (more tables = more candidate
        // buckets = higher recall, proportionally more index memory).
        // Default M=16 ⇒ 16 tables; floor of 1. Needs no training, so
        // there is no degrade rung; bucketLength 2/√dim ≈ 2σ of a unit
        // vector's projection onto a unit direction at this dim (the
        // 0.25-at-dim-64 rule, LSHSpec).
        (Lsh(LSHIndex.build(data, "id", "vector",
          numHashTables = math.max(1, manifest.m),
          bucketLength = 2.0 / math.sqrt(manifest.dim.toDouble))), manifest)
      case "graph" =>
        // `M` maps to the per-node k-NN edge count (its exact hnsw meaning
        // — links per node). `efConstruction` maps to build-time edge
        // accuracy — the IVF probe fraction of the k-NN-graph build,
        // `graphNprobe = ceil(efConstruction/200 × nlist)` — so the
        // reference default (200) builds EXACT edges and lower values buy
        // a cheaper approximate-edge build (hnsw's own ef_construction
        // trade-off).
        val nlist = manifest.ivfClusters
        (Graph(GraphIndex.build(data, "id", "vector",
          k = math.max(1, manifest.m), nlist = nlist,
          graphNprobe = math.max(1, math.min(nlist,
            math.ceil(manifest.efConstruction / 200.0 * nlist).toInt)))), manifest)
      case _ => (Flat, manifest)
    }

  /** FS-agnostic existence check (HDFS/S3/file: — everything else in the
    * save/load path is parquet through the Hadoop FileSystem API already;
    * a java.io.File check here would break any non-local fs.defaultFS). */
  private[graft] def artifactExists(spark: SparkSession, p: String): Boolean = {
    val hp = new org.apache.hadoop.fs.Path(p)
    hp.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(hp)
  }

  /** Every artifact a load reads must exist (≙ missing faiss.idx crash,
    * test_local_db.py:216–220) — named, not a Spark analysis error. */
  private def requireArtifacts(spark: SparkSession, dir: String, names: String*): Unit =
    names.map(a => s"$dir/$a").find(p => !artifactExists(spark, p)).foreach { p =>
      throw new IllegalStateException(s"index artifact missing: $p")
    }

  /** Restores what [[AnnIndex.save]] wrote; `None` for an empty collection
    * (nothing saved — the index builds once rows arrive). `lazyIndexes`
    * keeps the IVF assignments a partitioned-parquet read ([[IVFIndex.open]]). */
  def load(spark: SparkSession, indexDir: String, manifest: Manifest, n: Long,
           lazyIndexes: Boolean): Option[AnnIndex] =
    if (n == 0) None
    else Some(manifest.effectiveType match {
      case "ivf" =>
        requireArtifacts(spark, indexDir, "centroids", "assignments")
        val ivf = IVFIndex.open(spark, indexDir, Some(manifest.ivfClusters))
        if (lazyIndexes) Ivf(ivf)
        else {
          val assigns = ivf.assignments.persist(StorageLevel.MEMORY_AND_DISK)
          Ivf(new IVFIndex(ivf.centroids, assigns, ivf.nlist, Seq(assigns)))
        }
      case "ivfpq" =>
        requireArtifacts(spark, s"$indexDir/pq", "codes", "codebooks")
        if (!artifactExists(spark, s"$indexDir/pq/centroids"))
          throw new IllegalStateException(
            s"no coarse centroids at $indexDir/pq/centroids — not a residual-PQ " +
            "save (an ivfpq collection persisted before round 12 used the " +
            "raw-PQ layout; re-save it, or load the data dir as 'flat')")
        IvfPq(ResidualPQ.load(spark, s"$indexDir/pq"))
      case "pq" =>
        requireArtifacts(spark, s"$indexDir/pq", "codes", "codebooks")
        Pq(PQIndex.load(spark, s"$indexDir/pq"))
      case "lsh" =>
        requireArtifacts(spark, s"$indexDir/lsh", "hashed", "planes")
        Lsh(LSHIndex.load(spark, s"$indexDir/lsh"))
      case "graph" =>
        requireArtifacts(spark, s"$indexDir/graph", "edges", "vectors", "params")
        Graph(GraphIndex.load(spark, s"$indexDir/graph"))
      case _ => Flat
    })
}

package graft.model

import java.nio.charset.StandardCharsets

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path

/** Collection manifest — the relational replacement for the reference's
  * index-type-detection-from-artifacts (local_db.py:233–248): one small JSON
  * document recording schema + index configuration + the *effective* index
  * type after any degrade (ldb:108 mutates index_type on IVF-PQ→flat
  * fallback; repr/save must observe the mutated value, SURVEY §2.5.8).
  *
  * Hyperparameter defaults mirror the reference constructor
  * (local_db.py:21–29): ef_construction=200, M=16, ivf_clusters=100,
  * pq_code_size=16, ef_search=50.
  */
final case class Manifest(
    dim: Int,
    indexType: String,     // asked for: 'hnsw'|'flat'|'ivfpq'|'lsh'|'graph'|'ivf'|'pq'
    effectiveType: String, // built: 'flat'|'ivf'|'ivfpq'|'pq'|'lsh'|'graph' (flat after a degrade)
    efConstruction: Int = 200,
    m: Int = 16,
    ivfClusters: Int = 100,
    pqCodeSize: Int = 16,
    efSearch: Int = 50) {

  def toJson: String =
    s"""{"dim":$dim,"indexType":"$indexType","effectiveType":"$effectiveType",""" +
      s""""efConstruction":$efConstruction,"m":$m,"ivfClusters":$ivfClusters,""" +
      s""""pqCodeSize":$pqCodeSize,"efSearch":$efSearch}"""

  /** Writes through the Hadoop FileSystem API, so a collection saves to any
    * fs.defaultFS (HDFS/S3/file:) — pass the session's hadoopConfiguration
    * to pick up its filesystem credentials/settings. */
  def save(dir: String, conf: Configuration = new Configuration()): Unit = {
    val p = new Path(dir, "manifest.json")
    val out = p.getFileSystem(conf).create(p, true)
    try out.write(toJson.getBytes(StandardCharsets.UTF_8)) finally out.close()
  }
}

object Manifest {
  /** The reference's three types (local_db.py:53–54) plus 'lsh' and 'ivf'
    * — the two documented HNSW capability substitutes (SURVEY §2.3-K5),
    * individually selectable — plus 'graph': the REAL navigable-graph
    * index ([[graft.vector.GraphIndex]]). Round 7 flips 'hnsw' to the
    * graph (the reference's hnsw IS a navigable-graph index, ldb:41–46,
    * and the measured curves decide it: at the reference default
    * ef_search the IVF probe reaches recall 0.28–0.38 on the SCALE.md
    * corpus while the graph beam reaches 0.96+ touching fewer
    * candidates). 'ivf' keeps the probe substitute reachable by name;
    * 'pq' (round 12) keeps RAW product quantization reachable (FAISS
    * IndexPQ: flat ADC scan over codes, no coarse quantizer) now that
    * 'ivfpq' routes the residual encoder IndexIVFPQ actually uses. */
  val knownTypes: Set[String] =
    Set("hnsw", "flat", "ivfpq", "lsh", "graph", "ivf", "pq")

  /** Physical strategy per requested type: exact scan for 'flat';
    * IVF-probe + RESIDUAL PQ/ADC compression for 'ivfpq' (the reference's
    * faiss.IndexIVFPQ, local_db.py:50–52, encodes x − centroid residuals
    * and searches via compressed codes — so do we, round 12); raw PQ ADC
    * over the whole codes frame for 'pq' (FAISS IndexPQ); bucketed
    * random-projection LSH for 'lsh'; the plain IVF probe for 'ivf'
    * (ef_search → nprobe); the navigable-graph index for 'hnsw' and
    * 'graph' — hnsw's native meaning, with ef_search as the traversal
    * beam. `indexType` is one of [[knownTypes]]. */
  def effectiveFor(indexType: String): String =
    if (indexType == "hnsw") "graph" else indexType

  private val Field = """"(\w+)"\s*:\s*("?)([^",}]*)\2""".r

  def fromJson(json: String): Manifest = {
    val kv = Field.findAllMatchIn(json).map(m => m.group(1) -> m.group(3)).toMap
    def i(k: String, d: Int) = kv.get(k).map(_.toInt).getOrElse(d)
    val requested = kv.getOrElse("indexType", "flat")
    // Unknown index type on disk downgrades to flat (≙ reference behavior
    // for unrecognized FAISS index classes, test_local_db.py:196–198).
    val known = Manifest.knownTypes.contains(requested)
    Manifest(
      dim = i("dim", 0),
      indexType = requested,
      effectiveType =
        if (!known) "flat"
        else kv.getOrElse("effectiveType", effectiveFor(requested)),
      efConstruction = i("efConstruction", 200),
      m = i("m", 16),
      ivfClusters = i("ivfClusters", 100),
      pqCodeSize = i("pqCodeSize", 16),
      efSearch = i("efSearch", 50))
  }

  def load(dir: String, conf: Configuration = new Configuration()): Manifest = {
    val p = new Path(dir, "manifest.json")
    val fs = p.getFileSystem(conf)
    require(fs.exists(p), s"no manifest at $dir")
    val buf = new Array[Byte](fs.getFileStatus(p).getLen.toInt)
    val in = fs.open(p)
    try in.readFully(buf) finally in.close()
    fromJson(new String(buf, StandardCharsets.UTF_8))
  }
}

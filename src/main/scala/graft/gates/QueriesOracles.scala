package graft

import graft.dedup.Dedup
import graft.expr.ExactSum
import graft.functions.VectorFunctions._
import graft.text.{BM25, TextAnalysis}
import graft.vector.{ExactKNN, IVFIndex, LSHIndex, PQIndex}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Shared oracle-SQL fragments referenced by the registry: batch-KNN builders, winnowing/shingle/simhash CTEs, stopword lists.
  *
  * One tier of [[Queries]] (split in round 12, r11 VERDICT #7 -
  * maintainability only): members keep their original relative order and
  * semantics, relaxed from `private` to `private[graft]` so the sibling
  * tier traits and the assembling object see them. The self-type gives
  * every tier access to the full mixed-in surface without a dependency
  * graph between the files. */
private[graft] trait QueriesOracles { this: Queries.type =>

  /** Batch exact-cosine oracle — the metric transpose of knnBatchSqlFor,
    * shared by the quantized (SQ8 bound-pruned) batch cosine gate. */
  private[graft] def knnBatchCosineSqlFor(qids: String, k: Int): String =
    s"""WITH q AS (SELECT vec_id AS qid, embedding::DOUBLE[] AS qv
       |           FROM embeddings WHERE vec_id IN ($qids)),
       |scored AS (
       |  SELECT q.qid, e.vec_id AS id,
       |         list_sum(list_transform(range(1, 65), i -> e.embedding[i]::DOUBLE * q.qv[i]))
       |         / (sqrt(list_sum(list_transform(range(1, 65), i -> e.embedding[i]::DOUBLE * e.embedding[i]::DOUBLE)))
       |            * sqrt(list_sum(list_transform(range(1, 65), i -> q.qv[i] * q.qv[i])))) AS s
       |  FROM embeddings e, q)
       |SELECT qid, id, round(s, 4) AS score FROM (
       |  SELECT qid, id, s, row_number() OVER (PARTITION BY qid ORDER BY s DESC, id) AS rn
       |  FROM scored)
       |WHERE rn <= $k ORDER BY qid, score DESC, id""".stripMargin

  /** Oracle for the batch-KNN formulations (exact, SQ8, bulk IVF). */
  private[graft] def knnBatchSqlFor(qids: String): String =
    s"""WITH q AS (SELECT vec_id AS qid, embedding::DOUBLE[] AS qv
       |           FROM embeddings WHERE vec_id IN ($qids)),
       |scored AS (
       |  SELECT q.qid, e.vec_id AS id,
       |         1.0/(1.0 + list_sum(list_transform(range(1, 65),
       |           i -> (e.embedding[i]::DOUBLE - q.qv[i]) * (e.embedding[i]::DOUBLE - q.qv[i])))) AS s
       |  FROM embeddings e, q)
       |SELECT qid, id, round(s, 4) AS score FROM (
       |  SELECT qid, id, s, row_number() OVER (PARTITION BY qid ORDER BY s DESC, id) AS rn
       |  FROM scored)
       |WHERE rn <= 5 ORDER BY qid, score DESC, id""".stripMargin

  private[graft] val knnBatchSql = knnBatchSqlFor("1, 2, 3")

  /** Exact k-NN graph oracle (k=3, nodes vec_id < 500) — shared by the
    * IVF (nprobe = nlist) and LSH (exact superset radius) graph gates. */
  private[graft] val knnGraphSql =
    """WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
      |scored AS (
      |  SELECT a.vec_id AS qid, b.vec_id AS id,
      |         1.0/(1.0 + list_sum(list_transform(range(1, 65),
      |           i -> (a.emb[i] - b.emb[i]) * (a.emb[i] - b.emb[i])))) AS s
      |  FROM v a JOIN v b ON a.vec_id <> b.vec_id
      |  WHERE a.vec_id < 500)
      |SELECT qid, id, round(s, 4) AS score FROM (
      |  SELECT qid, id, s, row_number() OVER (PARTITION BY qid ORDER BY s DESC, id) AS rn
      |  FROM scored)
      |WHERE rn <= 3 ORDER BY qid, score DESC, id""".stripMargin

  /** Shared DuckDB CTE chain for the winnowing gates: normalized text →
    * char-8-gram md5 hashes → min per 16-gram window → distinct selected
    * fingerprints per doc (`fps(id, fp)`). Mirrors TextAnalysis.winnow
    * (k = 8, w = 16) term for term; docs shorter than k + w − 1 = 23
    * normalized chars yield no complete window on either side. */
  private[graft] val winnowCtes =
    raw"""n AS (SELECT doc_id AS id,
         |  lower(regexp_replace(trim(text), '\s+', ' ', 'g')) AS nt FROM documents),
         |g AS (
         |  SELECT id, unnest(range(1, length(nt) - 6)) AS i, nt,
         |         length(nt) - 7 AS ngrams
         |  FROM n WHERE length(nt) >= 23),
         |h AS (SELECT id, i, md5(substr(nt, i::INT, 8)) AS h, ngrams FROM g),
         |f AS (
         |  SELECT id, i, ngrams,
         |         min(h) OVER (PARTITION BY id ORDER BY i
         |                      ROWS BETWEEN CURRENT ROW AND 15 FOLLOWING) AS fp
         |  FROM h),
         |fps AS (SELECT DISTINCT id, fp FROM f WHERE i <= ngrams - 15)""".stripMargin

  /** Shared DuckDB CTE: tokenized documents. */
  private[graft] val toksCte =
    raw"t AS (SELECT doc_id AS id, text, string_split_regex(trim(text), '\s+') AS toks FROM documents)"

  /** Shared DuckDB CTE chain: distinct token-3-gram shingles per doc. */
  private[graft] val shinglesCte =
    raw"""$toksCte,
         |grams AS (
         |  SELECT id, unnest(list_distinct(list_transform(range(0, len(toks)-2),
         |           i -> toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3]))) AS gram
         |  FROM t WHERE len(toks) >= 3)""".stripMargin

  /** Shared DuckDB CTE chain: exact-Jaccard pairs (threshold 0.8) →
    * symmetric edges → recursive closure → `cl(id, cluster)` cluster
    * assignment — the oracle for every connected-components-derived gate
    * (dedup_clusters, dedup_keep, training_export). Requires `grams` from
    * [[shinglesCte]] and a `WITH RECURSIVE` prelude. */
  private[graft] val ccOracleCtes =
    raw"""gsz AS (SELECT id, count(*)::DOUBLE AS sz FROM grams GROUP BY 1),
         |inter AS (
         |  SELECT l.id AS a, r.id AS b, count(*)::DOUBLE AS inter
         |  FROM grams l JOIN grams r ON l.gram = r.gram AND l.id < r.id
         |  GROUP BY 1, 2),
         |p AS (
         |  SELECT a, b FROM inter
         |  JOIN gsz sa ON inter.a = sa.id JOIN gsz sb ON inter.b = sb.id
         |  WHERE inter / (sa.sz + sb.sz - inter) >= 0.8),
         |e AS (SELECT a AS src, b AS dst FROM p UNION SELECT b, a FROM p),
         |n AS (SELECT DISTINCT src AS id FROM e),
         |reach AS (
         |  SELECT id, id AS r FROM n
         |  UNION
         |  SELECT e.dst AS id, reach.r FROM reach JOIN e ON reach.id = e.src),
         |cl AS (SELECT id, min(r) AS cluster FROM reach GROUP BY id)""".stripMargin

  /** Shared DuckDB CTE chain: 64-bit tf-weighted SimHash per doc (16 md5
    * nibbles × 4 bits; must mirror graft.dedup.Dedup.simhash exactly). */
  private[graft] val simhashCtes =
    raw"""$toksCte,
         |tf AS (SELECT id, term, count(*)::DOUBLE AS tf
         |       FROM (SELECT id, unnest(toks) AS term FROM t) GROUP BY 1, 2),
         |bits AS (
         |  SELECT id, p.pos,
         |         sum(CASE WHEN ((strpos('0123456789abcdef', substr(md5(term), ((p.pos-1)//4)+1, 1)) - 1)
         |                        >> (3 - ((p.pos-1)%4))) & 1 = 1
         |                  THEN tf ELSE -tf END) AS w
         |  FROM tf, (SELECT unnest(range(1, 65)) AS pos) p GROUP BY 1, 2),
         |sh AS (SELECT id, string_agg(CASE WHEN w > 0 THEN '1' ELSE '0' END, '' ORDER BY pos) AS sim
         |       FROM bits GROUP BY id)""".stripMargin

  private[graft] val enList = TextAnalysis.stopwords("en").mkString("('", "','", "')")
  private[graft] val deList = TextAnalysis.stopwords("de").mkString("('", "','", "')")
  private[graft] val frList = TextAnalysis.stopwords("fr").mkString("('", "','", "')")

  /** Funnel oracle (shared by the batch gate and its streaming twin — the
    * funnel is a pure per-row function, so batch slicing cannot change the
    * kept set). */
  private[graft] lazy val qualityFunnelSql: String =
    raw"""WITH $toksCte,
         |c AS (SELECT id,
         |  len(list_filter(toks, w -> w IN $enList)) AS en,
         |  len(list_filter(toks, w -> w IN $deList)) AS de,
         |  len(list_filter(toks, w -> w IN $frList)) AS fr,
         |  len(toks)::DOUBLE AS n_tok,
         |  length(regexp_replace(text, '\s+', '', 'g'))::DOUBLE / len(toks) AS avg_wlen
         |  FROM t),
         |m AS (SELECT id,
         |  CASE WHEN en >= greatest(de, fr) THEN 'en'
         |       WHEN de >= fr THEN 'de' ELSE 'fr' END AS pred_lang,
         |  n_tok,
         |  floor((0.4 * least(1.0, n_tok / 50.0) + 0.3 * least(1.0, (en / n_tok) * 5.0)
         |      + 0.3 * least(1.0, avg_wlen / 5.0)) * 10000.0 + 0.5) / 10000.0 AS quality
         |  FROM c)
         |SELECT id, pred_lang, quality FROM m
         |WHERE pred_lang = 'en' AND quality >= 0.7 AND n_tok >= 20
         |ORDER BY id""".stripMargin
}

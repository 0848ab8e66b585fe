package graft.expr

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftColumnBridge
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, XxHash64Function}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import java.nio.charset.StandardCharsets

/** SINGLE SOURCE OF TRUTH for the word n-gram kernel (round-11 review:
  * [[WordShingles]], [[RepetitionStats]] and the streaming decontamination
  * kernel each carried their own copy of tokenize + n-window + space-join —
  * three independently-maintained implementations whose value-equality the
  * oracles depend on). Tokenization is the [[graft.text.BM25.tokenize]]
  * contract: whitespace runs, no empties. */
private[graft] object Grams {
  def tokens(text: String): Array[String] =
    text.split("\\s+").filter(_.nonEmpty)

  /** Feeds every space-joined n-gram of `text` to `f` in order (duplicates
    * included — the consumer picks its fold); returns false when the text
    * has fewer than n tokens (no complete window). */
  def foreach(text: String, n: Int)(f: String => Unit): Boolean = {
    val toks = tokens(text)
    if (toks.length < n) return false
    var i = 0
    while (i <= toks.length - n) {
      val sb = new java.lang.StringBuilder()
      var j = 0
      while (j < n) {
        if (j > 0) sb.append(' ')
        sb.append(toks(i + j))
        j += 1
      }
      f(sb.toString)
      i += 1
    }
    true
  }
}

/** Distinct word n-gram shingles of a text column in ONE expression —
  * tokenize (Python `str.split()` contract: whitespace runs, no empties),
  * slide the n-window, join with single spaces, first-occurrence dedup.
  *
  * Replaces the `split → filter → transform(sequence…) → array_distinct`
  * HOF chain in the dedup funnel's hottest projection: higher-order
  * lambdas are interpreted per ELEMENT (a getter tree re-evaluated per
  * window per token), measured ~2 ms/doc at sf0.1 — this fuses the whole
  * thing into one JVM pass per document (measured ~6× on the cold funnel
  * stage). `CodegenFallback` costs one virtual call per row, noise next to
  * the string work itself.
  *
  * Semantics: null text → null; fewer than n tokens → empty array (the
  * caller's explode/filter drops such docs, matching the old chain's
  * `where(size(toks) >= n)` pre-filter).
  */
case class WordShingles(child: Expression, n: Int)
    extends UnaryExpression with CodegenFallback {
  require(n >= 1, "shingle width must be >= 1")

  override def prettyName: String = "word_shingles"
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a STRING arg, got ${other.simpleString}")
  }

  override def nullSafeEval(input: Any): Any = {
    // LinkedHashSet preserves first-occurrence order == array_distinct's
    val seen = new java.util.LinkedHashSet[String]()
    if (!Grams.foreach(input.asInstanceOf[UTF8String].toString, n)(seen.add(_)))
      return new GenericArrayData(Array.empty[Any])
    val out = new Array[Any](seen.size)
    val it = seen.iterator()
    var k = 0
    while (it.hasNext) { out(k) = UTF8String.fromString(it.next()); k += 1 }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Winnowing fingerprint selection (Schleimer, Wilkerson & Aiken, SIGMOD
  * 2003) of ONE text span in ONE expression: md5 over every char-k-gram,
  * minimum per sliding window of `w` grams, distinct selected values.
  *
  * Replaces the explode → md5 → `min over (partition by id rows between
  * current and w-1 following)` → distinct chain (r8: measured 3.2 s WARM
  * at sf0.1 for only 1.4M gram rows — the per-doc window shuffle and the
  * pre-selection global distinct dominate). Here the gram hashes never
  * become Catalyst rows at all: one JVM pass per span computes the grams
  * (md5 kept as two longs; unsigned 128-bit big-endian order == hex-string
  * lexicographic order, so the min is THE SAME fingerprint the SQL window
  * picks), an O(n) monotonic-deque sliding minimum selects, and only the
  * ~2/(w+1) distinct survivors are hex-rendered. The caller explodes the
  * output — the shuffle-facing row count drops from every gram to every
  * SELECTED fingerprint.
  *
  * Gram positions are CODE POINTS, matching both Spark's `substring` and
  * the DuckDB oracle's; fingerprint VALUES are unchanged lowercase md5 hex,
  * so the winnowing oracle CTE needs no edit.
  *
  * Semantics: null → null; fewer than k + w − 1 code points → empty array
  * (no complete window), mirroring the old chain's length pre-filter.
  */
case class WinnowFingerprints(child: Expression, k: Int, w: Int)
    extends UnaryExpression with CodegenFallback {
  require(k >= 1 && w >= 1, "gram width and window size must be >= 1")

  override def prettyName: String = "winnow_fps"
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a STRING arg, got ${other.simpleString}")
  }

  override def nullSafeEval(input: Any): Any = {
    val s = input.asInstanceOf[UTF8String].toString
    // code-point start offsets; fast path when no surrogate pairs
    val cps: Array[Int] =
      if (s.codePointCount(0, s.length) == s.length) null
      else {
        val a = new Array[Int](s.codePointCount(0, s.length) + 1)
        var ci = 0; var off = 0
        while (off < s.length) { a(ci) = off; ci += 1; off = s.offsetByCodePoints(off, 1) }
        a(ci) = s.length
        a
      }
    val n = if (cps == null) s.length else cps.length - 1
    val nGrams = n - k + 1
    if (nGrams < w) return new GenericArrayData(Array.empty[Any])
    val md = java.security.MessageDigest.getInstance("MD5")
    val hi = new Array[Long](nGrams)
    val lo = new Array[Long](nGrams)
    var i = 0
    while (i < nGrams) {
      val from = if (cps == null) i else cps(i)
      val until = if (cps == null) i + k else cps(i + k)
      val d = md.digest(s.substring(from, until)
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      hi(i) = Md5Hex.word(d, 0); lo(i) = Md5Hex.word(d, 8)
      i += 1
    }
    // monotonic-deque sliding minimum: O(nGrams) total comparisons
    val seen = new java.util.LinkedHashSet[String]()
    val dq = new Array[Int](nGrams)
    var head = 0; var tail = 0 // dq[head, tail) ascending by value
    var j = 0
    while (j < nGrams) {
      while (tail > head && !Md5Hex.less(hi(dq(tail - 1)), lo(dq(tail - 1)), hi(j), lo(j))) tail -= 1
      dq(tail) = j; tail += 1
      if (dq(head) <= j - w) head += 1
      if (j >= w - 1) { val m = dq(head); seen.add(Md5Hex.hex(hi(m), lo(m))) }
      j += 1
    }
    val out = new Array[Any](seen.size)
    val it = seen.iterator()
    var z = 0
    while (it.hasNext) { out(z) = UTF8String.fromString(it.next()); z += 1 }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Per-document n-gram repetition statistics in ONE expression —
  * tokenize (the [[graft.text.BM25.tokenize]] contract: whitespace runs,
  * no empties), slide the n-window, count gram occurrences in a local
  * map, return (n_grams, n_distinct, max_c) as a struct.
  *
  * Replaces the `explode(ngrams) → groupBy(id, gram) → groupBy(id)`
  * chain in [[graft.text.TextAnalysis.repetition]]: the explode
  * materialized one Catalyst row PER GRAM (~doc-length rows per doc)
  * through an exchange — the suite's most allocation-intensive plan and
  * the recurring victim of driver-host GC storms (r8 + r10 bench
  * anomalies: 450 CPU-seconds at cpu_ratio 24.6 on a 0.79 s-quiet gate).
  * Here the grams never become rows at all: one JVM pass per document,
  * no shuffle — the gram strings are short-lived young-gen garbage
  * instead of exchange-buffered UnsafeRows.
  *
  * The ratio arithmetic (rounding included) deliberately STAYS in
  * Catalyst columns so the gate's numeric contract with the DuckDB
  * oracle is bit-for-bit the one verified since r5.
  *
  * Semantics: null text → null; fewer than n tokens → null (the caller
  * filters, matching the old chain's `where(size(toks) >= n)`).
  */
case class RepetitionStats(child: Expression, n: Int)
    extends UnaryExpression with CodegenFallback {
  require(n >= 1, "gram width must be >= 1")

  override def prettyName: String = "repetition_stats"
  override def dataType: DataType = StructType(Seq(
    StructField("n_grams", LongType, nullable = false),
    StructField("n_distinct", LongType, nullable = false),
    StructField("max_c", LongType, nullable = false)))
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a STRING arg, got ${other.simpleString}")
  }

  override def nullSafeEval(input: Any): Any = {
    val counts = new java.util.HashMap[String, Int]()
    var maxC = 0
    var total = 0L
    val ok = Grams.foreach(input.asInstanceOf[UTF8String].toString, n) { g =>
      val c = counts.merge(g, 1, (a, b) => a + b)
      if (c > maxC) maxC = c
      total += 1
    }
    if (!ok) return null
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](total, counts.size.toLong, maxC.toLong))
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** MinHash LSH band hashes of ONE document in ONE expression (Broder,
  * "On the resemblance and containment of documents", SEQUENCES 1997):
  * the doc's gram array → one band hash per band of `rowsPerBand`
  * consecutive seeds (the last band holds the remainder when `numHashes`
  * is not a multiple). Replaces the per-corpus seeds cross join, the
  * (id, seed) minimum aggregate and the (id, band) regroup: the signature
  * never becomes Catalyst rows.
  *
  * md5 (`wide = false`): slot s is the minimum of the lowercase hex
  * md5(s ++ "_" ++ gram) — compared as unsigned 128-bit big-endian values,
  * the same order as the hex strings — and a band's hash is the hex
  * md5 of its slots joined by "|". Bit-identical to
  * `min(md5(concat(seed, '_', gram)))` and `md5(concat_ws('|', slots))`,
  * so an external SQL engine reproduces every bucket.
  *
  * xxhash64 (`wide = true`): slot s is the (signed) minimum of Spark's
  * `xxhash64(s, gram)`, a band's hash `xxhash64(slots…)` — LONG end to
  * end, engine-private, bit for bit Spark's own function.
  *
  * Semantics: null → null; an empty array (a doc with fewer than n
  * tokens) → an empty array, so an explode emits no band rows for it. */
case class MinhashBands(child: Expression, numHashes: Int, rowsPerBand: Int, wide: Boolean)
    extends UnaryExpression with CodegenFallback {
  require(numHashes >= 1 && rowsPerBand >= 1, "numHashes and rowsPerBand must be >= 1")

  override def prettyName: String = "minhash_bands"
  override def dataType: DataType =
    ArrayType(if (wide) LongType else StringType, containsNull = false)
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires an ARRAY<STRING> arg, got ${other.simpleString}")
  }

  /** The seeds of band b, in slot order. */
  private def slots(b: Int): Range = b * rowsPerBand until math.min(numHashes, (b + 1) * rowsPerBand)
  private def nBands: Int = (numHashes + rowsPerBand - 1) / rowsPerBand
  @transient private lazy val md5Prefixes =
    Array.tabulate(numHashes)(s => s"${s}_".getBytes(StandardCharsets.UTF_8))
  @transient private lazy val xxSeeds =
    Array.tabulate(numHashes)(s => XxHash64Function.hash(s.toLong, LongType, 42L))

  override def nullSafeEval(input: Any): Any = {
    val grams = input.asInstanceOf[ArrayData]
    if (grams.numElements() == 0) new GenericArrayData(Array.empty[Any])
    else if (wide) xxBands(grams)
    else md5Bands(grams)
  }

  private def md5Bands(grams: ArrayData): GenericArrayData = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hi = Array.fill(numHashes)(-1L)
    val lo = Array.fill(numHashes)(-1L)
    val d = new Array[Byte](16)
    var g = 0
    while (g < grams.numElements()) {
      val bytes = grams.getUTF8String(g).getBytes
      var s = 0
      while (s < numHashes) {
        md.update(md5Prefixes(s)); md.update(bytes)
        md.digest(d, 0, 16)
        val h = Md5Hex.word(d, 0); val l = Md5Hex.word(d, 8)
        if (Md5Hex.less(h, l, hi(s), lo(s))) { hi(s) = h; lo(s) = l }
        s += 1
      }
      g += 1
    }
    new GenericArrayData(Array.tabulate[Any](nBands) { b =>
      val band = slots(b).map(s => Md5Hex.hex(hi(s), lo(s))).mkString("|")
      val h = md.digest(band.getBytes(StandardCharsets.UTF_8))
      UTF8String.fromString(Md5Hex.hex(Md5Hex.word(h, 0), Md5Hex.word(h, 8)))
    })
  }

  private def xxBands(grams: ArrayData): GenericArrayData = {
    val mins = Array.fill(numHashes)(Long.MaxValue)
    var g = 0
    while (g < grams.numElements()) {
      val gram = grams.getUTF8String(g)
      var s = 0
      while (s < numHashes) {
        mins(s) = math.min(mins(s), XxHash64Function.hash(gram, StringType, xxSeeds(s)))
        s += 1
      }
      g += 1
    }
    new GenericArrayData(Array.tabulate[Any](nBands)(b =>
      slots(b).foldLeft(42L)((h, s) => XxHash64Function.hash(mins(s), LongType, h))))
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** md5 digests as two big-endian longs, rendered as Spark's lowercase hex. */
private[graft] object Md5Hex {
  private val digits = "0123456789abcdef".toCharArray

  /** Unsigned 128-bit big-endian compare == lexicographic order of the hex. */
  def less(aHi: Long, aLo: Long, bHi: Long, bLo: Long): Boolean = {
    val c = java.lang.Long.compareUnsigned(aHi, bHi)
    c < 0 || (c == 0 && java.lang.Long.compareUnsigned(aLo, bLo) < 0)
  }

  def word(d: Array[Byte], off: Int): Long = {
    var w = 0L; var b = 0
    while (b < 8) { w = (w << 8) | (d(off + b) & 0xFFL); b += 1 }
    w
  }

  def hex(hi: Long, lo: Long): String = {
    val out = new Array[Char](32)
    var i = 0
    while (i < 16) { out(i) = digits(((hi >>> (60 - 4 * i)) & 0xF).toInt); i += 1 }
    while (i < 32) { out(i) = digits(((lo >>> (60 - 4 * (i - 16))) & 0xF).toInt); i += 1 }
    new String(out)
  }
}

object TextExpr {
  def wordShingles(text: Column, n: Int): Column =
    GraftColumnBridge.column(WordShingles(GraftColumnBridge.expression(text), n))

  def minhashBands(grams: Column, numHashes: Int, rowsPerBand: Int, wide: Boolean): Column =
    GraftColumnBridge.column(MinhashBands(GraftColumnBridge.expression(grams), numHashes,
      rowsPerBand, wide))

  def repetitionStats(text: Column, n: Int): Column =
    GraftColumnBridge.column(RepetitionStats(GraftColumnBridge.expression(text), n))

  def winnowFps(text: Column, k: Int, w: Int): Column =
    GraftColumnBridge.column(WinnowFingerprints(GraftColumnBridge.expression(text), k, w))
}

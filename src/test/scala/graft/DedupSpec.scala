package graft

import graft.dedup.Dedup
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class DedupSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
    "lambda mu nu xi omicron pi rho sigma tau upsilon"
  private val docs = Seq(
    0L -> base,
    1L -> (base + " extra"),                       // near-dup of 0
    2L -> base.split(" ").reverse.mkString(" "),   // same tokens, different grams
    3L -> "completely different text about spark engines and catalyst plans",
    4L -> base)                                    // exact dup of 0
    .toDF("id", "text")

  test("exactGroups finds the identical pair only") {
    val g = Dedup.exactGroups(docs, "id", "text").collect()
    assert(g.length == 1)
    assert(g.head.getAs[Long]("min_id") == 0L && g.head.getAs[Long]("max_id") == 4L)
  }

  test("WordShingles expression matches the HOF chain (differential, incl. messy whitespace)") {
    val messy = docs.unionByName(Seq(
      5L -> "  \t tabs\nand   runs of\r\n whitespace everywhere  ",
      6L -> "one two",           // fewer than n tokens -> no shingles
      7L -> "a b a b a b a b")   // repeated grams -> dedup matters
      .toDF("id", "text"))
    val t = graft.text.BM25.tokenize(col("text"))
    val old = messy.where(size(t) >= 3)
      .select(col("id"), explode(array_distinct(Dedup.ngrams(t, 3))).as("gram"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val fused = messy
      .select(col("id"), explode(graft.expr.TextExpr.wordShingles(col("text"), 3)).as("gram"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(fused == old)
    assert(!fused.exists(_._1 == 6L))
  }

  test("docGramSetsDirect equals the explode-regroup formulation") {
    val direct = Dedup.docGramSetsDirect(docs, "id", "text", 3)
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    val regrouped = Dedup.docGramSets(Dedup.shingles(docs, "id", "text", 3))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    assert(direct == regrouped)
    assert(direct.nonEmpty)
  }

  test("jaccardPairs: exact dup at 1.0, near-dup high, reversal/unrelated absent") {
    val p = Dedup.jaccardPairs(docs, "id", "text", n = 3, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(p((0L, 4L)) == 1.0)
    assert(p.contains((0L, 1L)) && p((0L, 1L)) > 0.9)
    assert(p.contains((1L, 4L)))
    assert(!p.keys.exists { case (a, b) => a == 2L || b == 2L || a == 3L || b == 3L })
  }

  test("jaccardPairs keeps exact threshold-boundary pairs (double-rounding regression, round 10)") {
    import spark.implicits._
    // A's 55 shingles ⊂ B's 100: jac = 55/100 = 0.55 EXACTLY at the
    // threshold. Pre-fix, BOTH the Bayardo prefix sizing
    // (ceil(0.55·100) = ceil(55.000000000000007) = 56 → prefix one gram
    // short) and the length-ratio prefilter (55 >= 55.000000000000007
    // false) silently dropped this pair from the advertised-EXACT join.
    val toksA = (1 to 57).map(i => s"w$i").mkString(" ")  // 55 shingles
    val toksB = (1 to 102).map(i => s"w$i").mkString(" ") // 100 shingles ⊇ A's
    val boundary = Seq((100L, toksA), (200L, toksB)).toDF("id", "text")
    val p = Dedup.jaccardPairs(boundary, "id", "text", n = 3, threshold = 0.55)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(p.contains((100L, 200L)), s"boundary pair dropped: $p")
    assert(p((100L, 200L)) == 0.55)
    // and strictly-below-threshold stays excluded (the fix is one-sided)
    val below = Dedup.jaccardPairs(boundary, "id", "text", n = 3, threshold = 0.5501)
      .collect()
    assert(below.isEmpty)
  }

  test("prefix bound property: exact set always kept, at most one epsilon-admitted extra (round 10)") {
    // the ceil-free prefix predicate `t·sz ≤ sz + 1 − rn + 1e-9·(sz+1)`
    // evaluated in pure doubles (the same IEEE ops codegen runs) must
    // (a) keep every rn of the EXACT prefix rn ≤ sz − ⌈t·sz⌉ + 1 (the
    // one-sided exactness claim) and (b) admit at most ONE extra rn (the
    // epsilon can only lengthen the prefix, never unboundedly)
    val rnd = new scala.util.Random(7)
    for (_ <- 1 to 2000) {
      val sz = 1 + rnd.nextInt(2000)
      val t = Seq(0.5, 0.55, 0.7, 0.8, 0.85, 0.9, rnd.nextDouble())(rnd.nextInt(7))
      val exactBound = sz - BigDecimal(t).*(BigDecimal(sz))
        .setScale(0, BigDecimal.RoundingMode.CEILING).toInt + 1
      def keeps(rn: Int): Boolean =
        t * sz <= sz + 1.0 - rn + 1e-9 * (sz + 1.0)
      for (rn <- 1 to math.min(sz, exactBound))
        assert(keeps(rn), s"exact prefix row dropped: t=$t sz=$sz rn=$rn")
      for (rn <- (exactBound + 2) to math.min(sz, exactBound + 5))
        assert(!keeps(rn), s"epsilon admitted >1 extra: t=$t sz=$sz rn=$rn")
    }
  }

  test("ngrams yields EMPTY for documents shorter than n (round-10 review)") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // pre-fix: sequence(0, size-n) with size < n counted DOWN and
    // concat_ws dropped the null lookups — a 1-token doc emitted three
    // copies of its lone token as "3-grams"
    val d = Seq((1L, Seq("foo")), (2L, Seq("a", "b")), (3L, Seq("a", "b", "c")))
      .toDF("id", "t")
    val r = d.select(col("id"), Dedup.ngrams(col("t"), 3).as("g"))
      .collect().map(x => x.getLong(0) -> x.getSeq[String](1)).toMap
    assert(r(1L).isEmpty && r(2L).isEmpty)
    assert(r(3L) == Seq("a b c"))
  }

  test("minhashPairs recovers the same high-similarity pairs") {
    val mh = Dedup.minhashPairs(docs, "id", "text", threshold = 0.5)
    val p = mh.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    mh.unpersist()
    assert(p.contains((0L, 4L)) && p.contains((0L, 1L)))
  }

  test("minhashPairs64 recovers the same pairs as the md5 path (scale-variant differential)") {
    def pairs(df: DataFrame): Map[(Long, Long), Double] =
      try df.collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
      finally df.unpersist()
    val md5 = pairs(Dedup.minhashPairs(docs, "id", "text", threshold = 0.5))
    val xx = pairs(Dedup.minhashPairs64(docs, "id", "text", threshold = 0.5))
    // both hash families must surface the planted dup pairs; verified jac
    // is exact, so any pair found by both carries the identical score
    assert(xx.contains((0L, 4L)) && xx.contains((0L, 1L)))
    md5.keySet.intersect(xx.keySet).foreach(k => assert(md5(k) == xx(k)))
  }

  // The SQL formulation of the MinHash signatures and LSH bands that the
  // per-doc expression replaced (a seeds cross join, the (id, seed)
  // minimum, the (id, band) regroup): the bit-parity reference.
  private def refSignatures(sh: DataFrame, numHashes: Int, wide: Boolean): DataFrame = {
    val seeds = (0 until numHashes).map(_.toLong).toDF("seed")
    val h =
      if (wide) xxhash64(col("seed"), col("gram"))
      else md5(concat(col("seed").cast("string"), lit("_"), col("gram")))
    sh.crossJoin(broadcast(seeds)).groupBy(col("id"), col("seed")).agg(min(h).as("mh"))
  }

  private def refBands(sig: DataFrame, rowsPerBand: Int, wide: Boolean): DataFrame = {
    val slots = (0 until rowsPerBand).map(k =>
      min(when(col("seed") % rowsPerBand === k, col("mh"))))
    sig.groupBy(col("id"), floor(col("seed") / rowsPerBand).as("band"))
      .agg((if (wide) xxhash64(slots: _*) else md5(concat_ws("|", slots: _*))).as("bh"))
  }

  private def bandRows(df: DataFrame): Set[(Long, Long, String)] =
    df.select(col("id"), col("band").cast("long"), col("bh").cast("string")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet

  private object Plans extends org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {
    import org.apache.spark.sql.execution.SparkPlan
    def kids(p: SparkPlan): Seq[SparkPlan] = allChildren(p)
    /** The executed (final adaptive) plan of `df` after collecting it. */
    def executed(df: DataFrame): SparkPlan = { df.collect(); df.queryExecution.executedPlan }
    def pairExecs(p: SparkPlan): Seq[graft.plans.BucketPairsExec] =
      collect(p) { case b: graft.plans.BucketPairsExec => b }
    def exchanges(p: SparkPlan): Seq[org.apache.spark.sql.execution.exchange.ShuffleExchangeExec] =
      collect(p) { case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e }
    /** Whether the path from `p` down to a BucketPairsExec crosses an
      * exchange; None when `p` has no BucketPairsExec below it. */
    def exchangeAbovePairs(p: SparkPlan): Option[Boolean] = p match {
      case _: graft.plans.BucketPairsExec => Some(false)
      case _ => kids(p).iterator.flatMap(exchangeAbovePairs).nextOption().map(_ ||
        p.isInstanceOf[org.apache.spark.sql.execution.exchange.ShuffleExchangeExec])
    }
  }

  test("MinhashBands expression == the SQL signature + band formulation, bit for bit") {
    val corpus = docs.unionByName(Seq(
      5L -> "a b c d e f g h i j k l m n o p",
      6L -> "one two",                              // fewer than n tokens
      7L -> "a b a b a b a b").toDF("id", "text"))
    val sh = Dedup.shingles(corpus, "id", "text", 3)
    // gram sets WITH the short doc's empty array: it must yield no band rows
    val gs = corpus.select(col("id"),
      sort_array(graft.expr.TextExpr.wordShingles(col("text"), 3)).as("grams"))
    for (wide <- Seq(false, true); (hashes, perBand) <- Seq((16, 4), (10, 4), (3, 1))) {
      val want = bandRows(refBands(refSignatures(sh, hashes, wide), perBand, wide))
      val got = bandRows(Dedup.minhashBuckets(gs, hashes, perBand, wide))
      assert(got == want, s"wide=$wide numHashes=$hashes rowsPerBand=$perBand")
      assert(got.map(_._1) == Set(0L, 1L, 2L, 3L, 4L, 5L, 7L))
      assert(got.size == 7 * ((hashes + perBand - 1) / perBand))
    }
  }

  test("minhash signatures are one projection; each funnel is one keyed exchange into BucketPairsExec (plan pin)") {
    val gs = Dedup.docGramSetsDirect(docs, "id", "text", 3)
    for (wide <- Seq(false, true)) {
      val sig = Dedup.minhashBuckets(gs, 16, 4, wide).queryExecution.executedPlan.toString
      Seq("CartesianProduct", "BroadcastNestedLoopJoin", "Expand", "Aggregate", "Exchange")
        .foreach(op => assert(!sig.contains(op), s"signature step runs $op:\n$sig"))
    }
    val sim = Dedup.simhash64(docs, "id", "text").persist()
    val emb = (0L until 30L).map(i =>
      (i, Seq.tabulate(4)(d => (if (d == i % 3) 1.0 else 0.0) + 0.01 * (i % 5)))).toDF("vec_id", "embedding")
    val semantic = Dedup.semanticDrop(emb, "vec_id", "embedding", nAnchors = 3, threshold = 0.9)
    val funnels = Seq(
      "minhash" -> Dedup.minhashPairs(docs, "id", "text", threshold = 0.5, gramSetsFrame = Some(gs)),
      "minhash64" -> Dedup.minhashPairs64(docs, "id", "text", threshold = 0.5, gramSetsFrame = Some(gs)),
      "simhash" -> Dedup.simhashPairs(docs, "id", "text", maxHamming = 3, simFrame = Some(sim)),
      "semantic" -> semantic)
    try funnels.foreach { case (name, df) =>
      val plan = Plans.executed(df)
      val execs = Plans.pairExecs(plan)
      // none when a persisted result of the same plan stands in for it: a
      // call that leaves its result cached must unpersist it
      assert(execs.length == 1, s"$name: one BucketPairsExec expected:\n$plan")
      val ex = Plans.exchanges(execs.head)
      assert(ex.length == 1 && ex.head.outputPartitioning
          .isInstanceOf[org.apache.spark.sql.catalyst.plans.physical.HashPartitioning],
        s"$name: exactly one hash exchange under BucketPairsExec expected:\n$plan")
    } finally sim.unpersist()
    // the drop's (ib, cluster) aggregate reads the pass's clustering by
    // cluster: no exchange between BucketPairsExec and its max_cos
    val plan = Plans.executed(semantic)
    val aggs = Plans.collect(plan) {
      case a: org.apache.spark.sql.execution.aggregate.HashAggregateExec => a }
    val above = aggs.flatMap(a => Plans.exchangeAbovePairs(a))
    assert(above.nonEmpty && above.forall(!_), s"exchange between the pass and max_cos:\n$plan")
  }

  test("BucketPairsExec reports dropped buckets, verified and emitted pairs") {
    val many = (0L until 30L).map(i => i -> "identical boilerplate text body").toDF("id", "text")
    val sim = Dedup.simhash64(many, "id", "text").persist()
    // a static plan: adaptive execution would replace the stage of an
    // empty pass (and its metrics) by an empty relation
    val key = "spark.sql.adaptive.enabled"
    val prev = spark.conf.get(key)
    spark.conf.set(key, "false")
    def metrics(maxBucket: Int): Map[String, Long] = {
      val plan = Plans.executed(Dedup.simhashPairs(many, "id", "text", maxHamming = 2,
        simFrame = Some(sim), maxBucket = maxBucket))
      val execs = Plans.pairExecs(plan)
      assert(execs.length == 1, plan.toString)
      execs.head.metrics.map { case (k, m) => k -> m.value }
    }
    try {
      // every doc shares all 4 blocks: 4 buckets of 30
      assert(metrics(10) == Map("bucketsDropped" -> 4L, "pairsVerified" -> 0L, "pairsEmitted" -> 0L))
      val pairs = 30L * 29 / 2
      assert(metrics(2000) ==
        Map("bucketsDropped" -> 0L, "pairsVerified" -> 4 * pairs, "pairsEmitted" -> 4 * pairs))
    } finally { spark.conf.set(key, prev); sim.unpersist() }
  }

  test("minhashPairs, simhashPairs and semanticDrop are identical at every input x shuffle partitioning") {
    val rnd = new scala.util.Random(41)
    val vocab = (0 until 60).map(i => s"w$i")
    val cores = Seq.fill(6)(Seq.fill(24)(vocab(rnd.nextInt(vocab.length))))
    val texts = (0L until 48L).map { i =>
      val core = cores((i % 6).toInt).toArray
      // 0–2 token edits per copy: near-dups at varied Jaccard and hamming
      (0 until (i / 6 % 3).toInt).foreach(_ => core(rnd.nextInt(core.length)) = vocab(rnd.nextInt(60)))
      i -> core.mkString(" ")
    }
    def jig(axis: Int): Seq[Double] =
      Seq.tabulate(4)(d => (if (d == axis) 1.0 else 0.0) + rnd.nextDouble() * 0.15)
    val vecs = (0L until 48L).map(i => (i, jig((i % 3).toInt)))
    def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq
    def run(parts: Int): Seq[Seq[String]] = {
      val d = texts.toDF("id", "text").repartition(parts)
      val e = vecs.toDF("vec_id", "embedding").repartition(parts)
      val mh = Dedup.minhashPairs(d, "id", "text", threshold = 0.5)
      val sh = Dedup.simhashPairs(d, "id", "text")
      try Seq(rows(mh), rows(sh),
        rows(Dedup.semanticDrop(e, "vec_id", "embedding", nAnchors = 3, threshold = 0.95)))
      finally { mh.unpersist(); sh.unpersist() }
    }
    val key = "spark.sql.shuffle.partitions"
    val prev = spark.conf.get(key)
    val results =
      try for (parts <- Seq(1, 3, 7); shuffle <- Seq(1, 7, 32)) yield {
        spark.conf.set(key, shuffle.toString)
        (parts, shuffle) -> run(parts)
      }
      finally spark.conf.set(key, prev)
    assert(results.head._2.forall(_.nonEmpty), s"degenerate fixture: ${results.head._2}")
    results.tail.foreach { case (at, r) =>
      r.zip(results.head._2).zipWithIndex.foreach { case ((a, b), i) =>
        assert(a == b, s"result $i at (partitions, shuffle) = $at differs:\n$a\n$b")
      }
    }
  }

  test("simhash: identical docs get identical signatures; pairs found at hamming 0") {
    val sims = Dedup.simhash(docs, "id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(sims(0L) == sims(4L))
    assert(sims(0L).length == 64 && sims.values.forall(_.matches("[01]{64}")))
    // reversal has identical tf profile → identical simhash (order-insensitive)
    assert(sims(0L) == sims(2L))
    val sp = Dedup.simhashPairs(docs, "id", "text", maxHamming = 3)
    val pairs = sp.collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    sp.unpersist()
    assert(pairs((0L, 4L)) == 0L && pairs((0L, 2L)) == 0L)
  }

  test("embeddingPairs: near-dup thresholds are rejected without forceExact (scale guard)") {
    val emb = Seq((0L, Seq(1f, 0f)), (1L, Seq(0f, 1f))).toDF("id", "v")
    val e = intercept[IllegalArgumentException](
      Dedup.embeddingPairs(emb, "id", "v", threshold = 0.9))
    assert(e.getMessage.contains("embeddingPairsBanded"))
    // below the near-dup regime the exact join is the intended tool — no guard
    assert(Dedup.embeddingPairs(emb, "id", "v", threshold = 0.3).collect().isEmpty)
  }

  test("embeddingPairs: only the near-parallel pair crosses the threshold") {
    val emb = Seq(
      (0L, Seq(1f, 0f, 0f, 0f)),
      (1L, Seq(0.99f, 0.1f, 0f, 0f)),
      (2L, Seq(0f, 1f, 0f, 0f))).toDF("id", "v")
    val p = Dedup.embeddingPairs(emb, "id", "v", 0.9, forceExact = true)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(p.toSeq == Seq((0L, 1L)))
  }

  test("blocked embeddingPairs matches a driver-side all-pairs computation") {
    val rnd = new scala.util.Random(7)
    val vecs = (0L until 50L).map(i => i -> Seq.fill(8)(rnd.nextFloat()))
    val emb = vecs.toDF("id", "v")
    val got = Dedup.embeddingPairs(emb, "id", "v", 0.9, blocks = 8, forceExact = true)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    // expected: normalize then dot, exactly as the operator computes
    val unit = vecs.map { case (i, v) =>
      val d = v.map(_.toDouble); val n = math.sqrt(d.map(x => x * x).sum)
      i -> d.map(_ / n)
    }.toMap
    val want = (for {
      a <- 0L until 50L; b <- (a + 1) until 50L
      cos = unit(a).zip(unit(b)).map { case (x, y) => x * y }.sum
      if cos >= 0.9
    } yield (a, b) -> (math.floor(cos * 1e4 + 0.5) / 1e4)).toMap
    assert(got.keySet == want.keySet)
    got.foreach { case (k, v) => assert(math.abs(v - want(k)) < 1e-9, s"$k") }
  }

  test("embeddingPairsIncremental: batch-vs-corpus and batch-vs-batch only, never corpus pairs") {
    val rnd = new scala.util.Random(31)
    def v(): Seq[Float] = Seq.fill(64)(rnd.nextFloat() - 0.5f)
    def jitter(x: Seq[Float]): Seq[Float] = x.map(f => f + (rnd.nextFloat() - 0.5f) * 0.01f)
    val a = v(); val b = v()
    // corpus: ids 0..19 with an INTERNAL near-dup pair (2, 3); batch:
    // ids 100..104 with one near-dup of corpus doc 5 and one internal pair
    val corpusRows = (0L until 20L).map(i => i -> v()).toMap ++
      Map(2L -> a, 3L -> jitter(a), 5L -> b)
    val batchRows = Map(100L -> jitter(b), 101L -> v(), 102L -> v(),
      103L -> v(), 104L -> jitter(jitter(b)))
    val corpus = corpusRows.toSeq.toDF("id", "v")
    val batch = batchRows.toSeq.toDF("id", "v")
    val ix = Dedup.buildEmbeddingIndex(corpus, "id", "v", threshold = 0.9)
    val got = Dedup.embeddingPairsIncremental(ix, batch, "id", "v")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got.contains((5L, 100L)), s"batch-vs-corpus pair missing from $got")
    assert(got.contains((100L, 104L)), s"batch-vs-batch pair missing from $got")
    assert(!got.contains((2L, 3L)), "corpus-vs-corpus pair must NOT be re-reported")
    // every reported pair touches the batch
    assert(got.forall { case (_, hi) => hi >= 100L })
  }

  test("embeddingPairsBanded recovers planted near-dups at high threshold") {
    val rnd = new scala.util.Random(11)
    def v(): Seq[Float] = Seq.fill(64)(rnd.nextFloat() - 0.5f)
    val baseV = v()
    val nearDup = baseV.map(x => x + (rnd.nextFloat() - 0.5f) * 0.02f)
    val emb = ((0L until 40L).map(i => i -> v()) ++
      Seq(100L -> baseV, 101L -> nearDup)).toDF("id", "v")
    val p = Dedup.embeddingPairsBanded(emb, "id", "v", threshold = 0.9, dim = 64)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(p.contains((100L, 101L)), s"planted pair missing from ${p.toSeq}")
    // exact verification of candidates ⇒ no pair below the threshold
    val all = Dedup.embeddingPairs(emb, "id", "v", 0.9, blocks = 4, forceExact = true)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(p.toSet.subsetOf(all))
  }

  test("connectedComponents: chains, triangles and singleton pairs label by component min") {
    val pairs = Seq(
      (1L, 2L), (2L, 3L), (3L, 4L),      // chain → cluster 1
      (10L, 11L), (11L, 12L), (10L, 12L), // triangle → cluster 10
      (21L, 20L))                         // reversed pair → cluster 20
      .toDF("a", "b")
    val cc = Dedup.connectedComponents(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cc == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L, 20L -> 20L, 21L -> 20L))
  }

  test("jaccardPairs: candidateBudget prices the prefix join up front, fail-fast above") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again"),
      (2L, "the quick brown fox jumps over the lazy dog again"),
      (3L, "a completely different sentence with other words entirely here"),
      (4L, "the quick brown fox jumps over the lazy cat again")
    ).toDF("doc_id", "text")
    val default = Dedup.jaccardPairs(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(default.contains((1L, 2L)))
    // unguarded (0) is identical
    assert(Dedup.jaccardPairs(docs, "doc_id", "text", candidateBudget = 0L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet == default)
    // a 1-candidate budget rejects with the named rule before joining
    val e = intercept[IllegalArgumentException] {
      Dedup.jaccardPairs(docs, "doc_id", "text", candidateBudget = 1L)
    }
    assert(e.getMessage.contains("candidateBudget") &&
      e.getMessage.contains("minhashPairs64"),
      s"budget error must carry the named rule: ${e.getMessage}")
  }

  test("jaccardPairsReleasable: release hook frees the local prefix cache; fail-fast leaks nothing (r14 ADVICE)") {
    // Track the SPECIFIC persisted-RDD ids each call adds, never the
    // global count: the shared session's ContextCleaner unpersists
    // unreferenced RDDs from earlier suites asynchronously, so count
    // equality is a race (observed flaking 283 != 284 in a full run).
    def ids(): Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet
    def awaitGone(mine: Set[Int]): Unit = {
      val deadline = System.nanoTime() + 10000000000L // unpersist is async
      while ((ids() & mine).nonEmpty && System.nanoTime() < deadline)
        Thread.sleep(50)
      assert((ids() & mine).isEmpty,
        s"persistent RDDs ${ids() & mine} still cached after release")
    }
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again"),
      (2L, "the quick brown fox jumps over the lazy dog again"),
      (3L, "a completely different sentence with other words entirely here")
    ).toDF("doc_id", "text")
    // budget-breach path: the estimate's local cache is released on throw
    val preBreach = ids()
    intercept[IllegalArgumentException] {
      Dedup.jaccardPairsReleasable(docs, "doc_id", "text", candidateBudget = 1L)
    }
    awaitGone(ids() -- preBreach)
    // success path: cache stays warm for the returned join, hook frees it
    val preRun = ids()
    val (pairs, release) = Dedup.jaccardPairsReleasable(docs, "doc_id", "text")
    assert(pairs.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      .contains((1L, 2L)))
    val mine = ids() -- preRun
    assert(mine.size == 1,
      s"local prefix frame should add exactly one cached RDD, got $mine")
    release()
    awaitGone(mine)
    release() // idempotent
    // caller-supplied prefix frame: no local cache, hook is a no-op
    val sh = Dedup.shingles(docs, "doc_id", "text", 3)
    val gs = Dedup.docGramSets(sh)
    val pf = Dedup.corpusPrefixes(sh, gs, 0.8)
    val preSupplied = ids()
    val (p2, rel2) = Dedup.jaccardPairsReleasable(docs, "doc_id", "text",
      shingleFrame = Some(sh), gramSetsFrame = Some(gs), prefixFrame = Some(pf))
    p2.collect()
    assert((ids() -- preSupplied).isEmpty,
      "supplied prefixFrame must not create a local cache")
    rel2()
  }

  test("connectedComponents: maxEdges budget fail-fasts with the named rule, off by default") {
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L), (1L, 2L)).toDF("a", "b")
    // 3 CANONICAL edges (the duplicate collapses): budget 2 rejects, 3 passes
    val e = intercept[IllegalArgumentException] {
      Dedup.connectedComponents(pairs, maxEdges = 2L)
    }
    assert(e.getMessage.contains("maxEdges") && e.getMessage.contains("exactGroups"),
      s"budget error must carry the named rule: ${e.getMessage}")
    assert(Dedup.connectedComponents(pairs, maxEdges = 3L).count() == 5)
    // ...and on the forced-Kiveris path too (the budget is count-based,
    // independent of which CC arm runs)
    assert(intercept[IllegalArgumentException] {
      Dedup.connectedComponents(pairs, driverThreshold = 0L, maxEdges = 2L)
    }.getMessage.contains("maxEdges"))
    assert(Dedup.connectedComponents(pairs, maxEdges = 0L).count() == 5) // 0 = off
  }

  test("connectedComponents converges on a long chain and a star in few rounds") {
    // a 64-node chain is the adversary for naive min-label propagation
    // (O(diameter) rounds); alternating stars must stay within O(log² n).
    // driverThreshold = 0 FORCES the distributed Kiveris loop — this test
    // exists to pin the loop, not the small-graph driver arm
    val chain = (0L until 63L).map(i => (i, i + 1)).toDF("a", "b")
    val cc = Dedup.connectedComponents(chain, maxRounds = 12, driverThreshold = 0L)
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    assert(cc.length == 64 && cc.forall(_._2 == 0L))
    assert(Dedup.connectedComponents(spark.emptyDataset[(Long, Long)].toDF("a", "b"))
      .count() == 0)
  }

  test("connectedComponents: driver union-find arm equals the Kiveris loop (differential)") {
    val rnd = new scala.util.Random(23)
    // random graph over 200 nodes: chains, cliques-by-chance, singletons
    val pairs = Seq.fill(180)((rnd.nextInt(200).toLong, rnd.nextInt(200).toLong))
      .filter { case (a, b) => a != b }
      .toDF("a", "b")
    def asMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val viaDriver = asMap(Dedup.connectedComponents(pairs))
    val viaLoop = asMap(Dedup.connectedComponents(pairs, driverThreshold = 0L))
    assert(viaDriver == viaLoop)
    assert(viaDriver.nonEmpty)
  }

  test("maxBucket guard drops hot buckets; oversizedBuckets reports them") {
    val many = (0L until 30L).map(i => i -> "identical boilerplate text body").toDF("id", "text")
    def collected(df: DataFrame) = try df.collect() finally df.unpersist()
    val unguarded = collected(Dedup.simhashPairs(many, "id", "text"))
    assert(unguarded.length == 30 * 29 / 2) // all pairs, hamming 0
    val guarded = collected(Dedup.simhashPairs(many, "id", "text", maxBucket = 10))
    assert(guarded.isEmpty) // every bucket holds all 30 docs -> dropped
    val sim = Dedup.simhash64(many, "id", "text")
    val blocks = sim.select(col("id"),
      explode(array((0 until 4).map(b =>
        org.apache.spark.sql.functions.struct(lit(b).as("blk"),
          shiftrightunsigned(col("sim64"), 16 * (3 - b)).bitwiseAND(lit(0xFFFFL)).as("bs"))): _*)).as("e"))
      .select(col("id"), col("e.blk"), col("e.bs"))
    val over = Dedup.oversizedBuckets(blocks, Seq("blk", "bs"), 10).collect()
    assert(over.nonEmpty && over.forall(_.getLong(2) == 30L))
    // minhash: a family of docs sharing a 30-token core collides in each
    // band's core bucket; the biggest of them is made hot. A pair whose
    // only shared buckets are hot is dropped; a pair that also shares an
    // ordinary bucket is still found (threshold 0 verifies every
    // candidate, so the result is exactly the guarded candidate set)
    val rnd = new scala.util.Random(5)
    val core = Seq.fill(30)(s"c${rnd.nextInt(1000)}")
    val family = (0L until 24L).map(i =>
      i -> (core ++ Seq.fill(8)(s"u${rnd.nextInt(1000)}")).mkString(" ")).toDF("id", "text")
    val buckets = bandRows(refBands(refSignatures(Dedup.shingles(family, "id", "text", 3), 16,
        wide = false), 4, wide = false))
      .groupBy { case (_, band, bh) => (band, bh) }.values.map(_.map(_._1)).toSeq
    val maxBucket = buckets.map(_.size).max - 1
    def shared(x: Long, y: Long) = buckets.filter(b => b(x) && b(y))
    val candidates = for (x <- 0L until 24L; y <- (x + 1) until 24L if shared(x, y).nonEmpty)
      yield (x, y)
    val (onlyHot, withOrdinary) =
      candidates.partition(p => shared(p._1, p._2).forall(_.size > maxBucket))
    val hotToo = withOrdinary.filter(p => shared(p._1, p._2).exists(_.size > maxBucket))
    assert(onlyHot.nonEmpty && hotToo.nonEmpty, s"degenerate fixture: $buckets")
    val mh = Dedup.minhashPairs(family, "id", "text", threshold = 0.0, maxBucket = maxBucket)
    val found = mh.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    mh.unpersist()
    assert(onlyHot.forall(p => !found(p)), s"pairs sharing only a hot bucket found: $onlyHot")
    assert(hotToo.forall(found), s"pairs sharing a hot and an ordinary bucket lost: $hotToo")
    assert(found == withOrdinary.toSet)
  }

  test("connectedComponents works over STRING ids (no silent long-cast null-out)") {
    import spark.implicits._
    val pairs = Seq(("doc-b", "doc-a"), ("doc-c", "doc-b"), ("doc-z", "doc-y"))
      .toDF("a", "b")
    val cc = Dedup.connectedComponents(pairs).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(cc.size == 5)
    assert(Set("doc-a", "doc-b", "doc-c").forall(cc(_) == "doc-a"))
    assert(Set("doc-y", "doc-z").forall(cc(_) == "doc-y"))
  }

  test("jaccardPairsIncremental == full-union pairs restricted to batch-touching pairs") {
    import spark.implicits._
    val corpus = docs.where($"id" <= 2)
    val incoming = docs.where($"id" >= 3)
    val ix = Dedup.buildJaccardIndex(corpus, "id", "text", n = 3, threshold = 0.5)
    val got = Dedup.jaccardPairsIncremental(ix, incoming, "id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val want = Dedup.jaccardPairs(docs, "id", "text", n = 3, threshold = 0.5)
      .where($"b" >= 3).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got == want)
    // the exact dup (0, 4) crosses the corpus/batch boundary at jac 1.0
    assert(got.contains((0L, 4L, 1.0)))
    // corpus-vs-corpus pairs (e.g. 0-1) must NOT reappear per batch
    assert(!got.exists { case (a, b, _) => a <= 2 && b <= 2 })
  }

  test("JaccardIndex save/load roundtrip: a fresh load answers incremental queries identically") {
    import spark.implicits._
    val corpus = docs.where($"id" <= 2)
    val incoming = docs.where($"id" >= 3)
    val ix = Dedup.buildJaccardIndex(corpus, "id", "text", n = 3, threshold = 0.5)
    val dir = java.nio.file.Files.createTempDirectory("graft_jix")
    try {
      Dedup.saveJaccardIndex(ix, dir.toString)
      val loaded = Dedup.loadJaccardIndex(spark, dir.toString)
      assert(loaded.n == ix.n && loaded.threshold == ix.threshold)
      val a = Dedup.jaccardPairsIncremental(ix, incoming, "id", "text")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      val b = Dedup.jaccardPairsIncremental(loaded, incoming, "id", "text")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(a == b && a.nonEmpty)
    } finally graft.streaming.StreamingGates.rmrf(dir)
  }

  // ---- SemDeDup cluster-scoped pruning (round 12) ----

  test("semanticDrop: anchors cluster, within-cluster near-dups drop larger id, cross-cluster pairs ignored") {
    // two obvious directions on the unit sphere + a third anchor between;
    // ids 0..2 are the anchors themselves
    def v(axis: Int, eps: Double = 0.0): Seq[Double] =
      Seq.tabulate(4)(i => (if (i == axis) 1.0 else 0.0) + (if (i == 3) eps else 0.0))
    val emb = Seq(
      (0L, v(0)),            // anchor 0 → cluster 0
      (1L, v(1)),            // anchor 1 → cluster 1
      (2L, v(2)),            // anchor 2 → cluster 2
      (3L, v(0, 0.05)),      // near anchor 0 → dropped (pairs with 0)
      (4L, v(0, 0.10)),      // near anchor 0 → dropped (pairs with 0 AND 3)
      (5L, v(1, 0.05)),      // near anchor 1 → dropped (pairs with 1)
      (6L, Seq(0.7, 0.7, 0.0, 0.14)) // between 0 and 1 — assigned to ONE
    ).toDF("vec_id", "embedding")
    val out = Dedup.semanticDrop(emb, "vec_id", "embedding",
      nAnchors = 3, threshold = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toList
    val ids = out.map(_._1)
    assert(ids == List(3L, 4L, 5L), s"dropped $out")
    assert(out.forall { case (id, c, m) =>
      m >= 0.9 && (if (id == 5L) c == 1L else c == 0L) })
    // id 6 sits at cos ≈ 0.7 to anchors 0 and 1 — below threshold, kept;
    // its distances to the two are an EXACT tie by symmetry, so the
    // first-wins tie rule assigns it to anchor 0 deterministically
    assert(!ids.contains(6L))
    // keep set = input minus dropped
    assert(emb.count() - out.size == 4)
  }

  test("semanticDropIncremental == semanticDrop(union) restricted to batch ids (dense-id append)") {
    val rnd = new scala.util.Random(3)
    def jig(axis: Int): Seq[Double] =
      Seq.tabulate(4)(i => (if (i == axis) 1.0 else 0.0) + rnd.nextDouble() * 0.15)
    val all = (0L until 40L).map(i => (i, jig((i % 3).toInt))).toDF("vec_id", "embedding")
    val corpus = all.where(col("vec_id") < 30L)
    val batch = all.where(col("vec_id") >= 30L)
    val ix = Dedup.buildSemanticIndex(corpus, "vec_id", "embedding",
      nAnchors = 3, threshold = 0.95)
    val inc = Dedup.semanticDropIncremental(ix, batch, "vec_id", "embedding")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val full = Dedup.semanticDrop(all, "vec_id", "embedding",
        nAnchors = 3, threshold = 0.95)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .filter(_._1 >= 30L).toSet
    assert(inc == full, s"incremental $inc != union-restricted $full")
    assert(inc.nonEmpty, "degenerate fixture: no batch drops")
    // frozen anchors: the index never re-collects from the union — a batch
    // id below nAnchors must not become a centroid
    assert(ix.anchorIds.toSeq == Seq(0L, 1L, 2L))
  }

  test("autoBitsPerBand enforces the measured sizing rule (round-12 ×100 kill)") {
    // bench scale sits at the 8-bit oracle floor
    assert(Dedup.autoBitsPerBand(100L, 16) == 8)
    assert(Dedup.autoBitsPerBand(1000L, 16) == 8)
    // the ×100 kill-run size (n = 200 k) gets the measured fix: 16 bits
    // (tools/BandedProbe: 8-bit ⇒ ~1.2 B candidates / heap death;
    // 16-bit ⇒ 51.9 s on the same corpus)
    assert(Dedup.autoBitsPerBand(200000L, 16) == 16)
    // linear-candidate invariant across decades (below the 28-bit cap,
    // which binds only past n ≈ 10⁹ at 16 bands): expected uncorrelated
    // candidates n²/2 · bands/2^bits stay ≤ (candidateBudget/2)·n
    for (n <- Seq(10000L, 1000000L, 100000000L, 1000000000L)) {
      val bits = Dedup.autoBitsPerBand(n, 16)
      val candPerRow = n.toDouble / 2 * 16 / math.pow(2, bits)
      assert(candPerRow <= 32.0 + 1e-9, s"n=$n bits=$bits candPerRow=$candPerRow")
    }
    // capped: the signature string stays small-int-width
    assert(Dedup.autoBitsPerBand(Long.MaxValue / 1024, 16) == 28)
  }

  test("banded DEFAULT (auto bits) == explicit 8-bit output at floor scale") {
    // 42 vectors ⇒ autoBitsPerBand = 8 (the floor), so the default path is
    // bit-identical to the gates' explicit-8 oracle configuration here —
    // the auto rule changes nothing at bench scale, only above it
    val rnd = new scala.util.Random(23)
    def v(): Seq[Float] = Seq.fill(64)(rnd.nextFloat() - 0.5f)
    val baseV = v()
    val emb = ((0L until 40L).map(i => i -> v()) ++
      Seq(100L -> baseV, 101L -> baseV.map(x => x + 0.003f))).toDF("id", "v")
    def run(bits: Int): Set[(Long, Long, Double)] =
      Dedup.embeddingPairsBanded(emb, "id", "v", threshold = 0.9, bitsPerBand = bits)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(Dedup.autoBitsPerBand(42L, 16) == 8)
    val auto = Dedup.embeddingPairsBanded(emb, "id", "v", threshold = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(auto == run(8) && auto.nonEmpty)
  }

  test("semanticDropIncremental: oversized batch degrades to shuffle join with identical rows") {
    val rnd = new scala.util.Random(17)
    def jig(axis: Int): Seq[Double] =
      Seq.tabulate(4)(i => (if (i == axis) 1.0 else 0.0) + rnd.nextDouble() * 0.15)
    val all = (0L until 40L).map(i => (i, jig((i % 3).toInt))).toDF("vec_id", "embedding")
    val corpus = all.where(col("vec_id") < 30L)
    val batch = all.where(col("vec_id") >= 30L)
    val ix = Dedup.buildSemanticIndex(corpus, "vec_id", "embedding",
      nAnchors = 3, threshold = 0.95)
    def rows(maxRows: Long): Set[(Long, Long, Double)] =
      Dedup.semanticDropIncremental(ix, batch, "vec_id", "embedding",
          broadcastMaxRows = maxRows)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val viaBroadcast = rows(Long.MaxValue)
    val viaShuffle = rows(0L) // batch of 10 > 0 ⇒ forced onto the guard path
    assert(viaBroadcast == viaShuffle && viaBroadcast.nonEmpty)
    // the guard path really is join-shaped differently: no broadcast hint
    val plan = Dedup.semanticDropIncremental(ix, batch, "vec_id", "embedding",
      broadcastMaxRows = 0L).queryExecution.executedPlan.toString()
    assert(plan.contains("ShuffledHashJoin"),
      s"expected the oversized-batch fallback to shuffle-hash join:\n$plan")
    // round-14 (r13 VERDICT #5): the BYTE bound degrades independently of
    // the row bound — a 10-row batch is far under broadcastMaxRows, but a
    // 1-byte budget must still force the shuffle path (rows × (dim·8+48)
    // estimated bytes), with identical result rows
    val viaByteGuard = Dedup.semanticDropIncremental(ix, batch, "vec_id", "embedding",
        broadcastMaxBytes = 1L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(viaByteGuard == viaBroadcast)
    val bytePlan = Dedup.semanticDropIncremental(ix, batch, "vec_id", "embedding",
      broadcastMaxBytes = 1L).queryExecution.executedPlan.toString()
    assert(bytePlan.contains("ShuffledHashJoin"),
      s"expected the byte-bound fallback to shuffle-hash join:\n$bytePlan")
  }

  test("semanticDropTrained: k-means centroids separate the geometry; incremental parity holds") {
    val rnd = new scala.util.Random(29)
    // two tight direction bundles + per-bundle near-dups
    def bundle(axis: Int): Seq[Double] =
      Seq.tabulate(4)(i => (if (i == axis) 1.0 else 0.0) + rnd.nextDouble() * 0.05)
    val all = (0L until 40L).map(i => (i, bundle((i % 2).toInt))).toDF("vec_id", "embedding")
    val corpus = all.where(col("vec_id") < 30L)
    val batch = all.where(col("vec_id") >= 30L)
    val ix = Dedup.buildSemanticIndexTrained(corpus, "vec_id", "embedding",
      nClusters = 2, threshold = 0.98)
    // trained assignment is the true argmin-L2 over the learned centroids
    // (JVM-recomputed per row)
    val cents = ix.centroids
    ix.rows.collect().foreach { r =>
      val v = r.getSeq[Double](1).toArray
      val want = cents.indices.minBy(c =>
        cents(c).zip(v).map { case (a, b) => (a - b) * (a - b) }.sum)
      assert(r.getLong(2) == want.toLong, s"row ${r.getLong(0)} mis-assigned")
    }
    // the two bundles land in different clusters (the geometry is separable)
    val byCluster = ix.rows.collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(byCluster(0L) != byCluster(1L), "bundles not separated by trained centroids")
    // incremental against the FROZEN trained centroids == full drop over
    // the union restricted to batch ids (the anchor-arm parity, re-proved
    // for this arm)
    val inc = Dedup.semanticDropIncremental(ix, batch, "vec_id", "embedding")
      .collect().map(r => (r.getLong(0), r.getDouble(2))).toSet
    val ixAll = Dedup.buildSemanticIndexTrained(all, "vec_id", "embedding",
      nClusters = 2, threshold = 0.98, centroidsIn = Some(ix.centroids))
    val full = Dedup.semanticDropFromIndex(ixAll)
      .collect().map(r => (r.getLong(0), r.getDouble(2)))
      .filter(_._1 >= 30L).toSet
    assert(inc == full, s"trained incremental $inc != union-restricted $full")
    assert(inc.nonEmpty, "degenerate fixture: no batch drops")
  }

  test("trainedCentroidsRestatable: id-prefix arm rounds=0 recovers the anchor centroids; deterministic; a round moves means (r13 VERDICT #9)") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val c0 = Dedup.trainedCentroidsRestatable(emb, "vec_id", "embedding", k = 8,
      rounds = 0, sampleSeed = None)
    // rounds = 0 is exactly the first 8 normalized rows by id — the anchor
    // arm's centroids; the drop through the trained plumbing must equal
    // semanticDrop up to the label convention (index == id for ids 0..7)
    val viaTrained = Dedup.semanticDropFromIndex(
        Dedup.buildSemanticIndexTrained(emb, "vec_id", "embedding",
          nClusters = 8, threshold = 0.3, centroidsIn = Some(c0)))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toList
    val viaAnchors = Dedup.semanticDrop(emb, "vec_id", "embedding",
        nAnchors = 8, threshold = 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toList
    assert(viaTrained == viaAnchors && viaTrained.nonEmpty)
    // fixed trajectory: a second run is bit-identical
    val c2a = Dedup.trainedCentroidsRestatable(emb, "vec_id", "embedding", k = 8, rounds = 2)
    val c2b = Dedup.trainedCentroidsRestatable(emb, "vec_id", "embedding", k = 8, rounds = 2)
    assert(c2a.zip(c2b).forall { case (x, y) => x.sameElements(y) })
    // the rounds DO something: at least one coordinate moved off the init
    assert(c2a.zip(c0).exists { case (x, y) => !x.sameElements(y) })
  }

  test("trainedCentroidsRestatable: seeded-hash sample (default) is deterministic, seed-sensitive, content-unbiased (r14 VERDICT #10)") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    // deterministic under the default seed
    val a = Dedup.trainedCentroidsRestatable(emb, "vec_id", "embedding", k = 8, rounds = 1)
    val b = Dedup.trainedCentroidsRestatable(emb, "vec_id", "embedding", k = 8, rounds = 1)
    assert(a.zip(b).forall { case (x, y) => x.sameElements(y) })
    // a different seed draws a different sample -> different trajectory
    val c = Dedup.trainedCentroidsRestatable(emb, "vec_id", "embedding", k = 8,
      rounds = 1, sampleSeed = Some("other"))
    assert(a.zip(c).exists { case (x, y) => !x.sameElements(y) })
    // content-unbiased vs the id-prefix arm: init differs from the first-8-by-id
    val prefix = Dedup.trainedCentroidsRestatable(emb, "vec_id", "embedding", k = 8,
      rounds = 0, sampleSeed = None)
    val seeded0 = Dedup.trainedCentroidsRestatable(emb, "vec_id", "embedding", k = 8,
      rounds = 0)
    assert(prefix.zip(seeded0).exists { case (x, y) => !x.sameElements(y) },
      "seeded draw unexpectedly reproduced the id prefix")
    // the draw matches the SQL restatement rule: lowest md5(id || seed)
    import org.apache.spark.sql.functions.{col, concat, lit, md5}
    val wantIds = emb.select(col("vec_id").cast("long").as("id"),
        md5(concat(col("vec_id").cast("string"), lit("graft"))).as("h"))
      .orderBy(col("h"), col("id")).limit(8)
      .collect().map(_.getLong(0))
    assert(wantIds.distinct.length == 8)
  }

  test("semanticDropFromIndex(buildSemanticIndex) == semanticDrop (anchor-arm refactor pin)") {
    val rnd = new scala.util.Random(3)
    def jig(axis: Int): Seq[Double] =
      Seq.tabulate(4)(i => (if (i == axis) 1.0 else 0.0) + rnd.nextDouble() * 0.15)
    val emb = (0L until 30L).map(i => (i, jig((i % 3).toInt))).toDF("vec_id", "embedding")
    val direct = Dedup.semanticDrop(emb, "vec_id", "embedding", nAnchors = 3, threshold = 0.95)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val viaIx = Dedup.semanticDropFromIndex(
      Dedup.buildSemanticIndex(emb, "vec_id", "embedding", nAnchors = 3, threshold = 0.95))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(direct == viaIx && direct.nonEmpty)
  }

  test("semanticDrop: maxCluster guard excludes oversized clusters from pairing") {
    val emb = (0L until 10L).map(i =>
      (i, Seq.tabulate(4)(d => if (d == 0) 1.0 else 0.001 * i))).toDF("vec_id", "embedding")
    // all 10 rows land in anchor-0's cluster; guard at 5 excludes it entirely
    val guarded = Dedup.semanticDrop(emb, "vec_id", "embedding",
      nAnchors = 1, threshold = 0.5, maxCluster = 5)
    assert(guarded.count() == 0)
    val unguarded = Dedup.semanticDrop(emb, "vec_id", "embedding",
      nAnchors = 1, threshold = 0.5)
    assert(unguarded.count() == 9) // everything but id 0 drops
  }
}

package graftbench

import java.util.SplittableRandom

/** Seeded input generators. Every input of every workload comes from here,
  * keyed by (seed, stream), so the same seed always yields the same inputs
  * and independent streams never share random draws. */
final class Gen(seed: Long) {

  def rng(stream: Int): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L + stream * 0x632BE59BD9B4E019L)

  private def gauss(r: SplittableRandom): Double = {
    // Box-Muller on two uniforms; enough quality for benchmark inputs
    val u1 = math.max(r.nextDouble(), 1e-300)
    val u2 = r.nextDouble()
    math.sqrt(-2.0 * math.log(u1)) * math.cos(2.0 * math.Pi * u2)
  }

  /** A `k`-component Gaussian mixture in `dim` dimensions whose components
    * vary along `latent` random directions each (plus a little isotropic
    * noise), so, like real embeddings, the data has a low intrinsic
    * dimension and nearest neighbours stand out from the rest. */
  final class Mixture(val centres: Array[Array[Double]],
                      val loadings: Array[Array[Array[Double]]]) {
    def dim: Int = centres.head.length
  }

  def mixtureModel(k: Int, dim: Int, stream: Int, latent: Int = 8): Mixture = {
    val r = rng(stream)
    new Mixture(Array.fill(k)(Array.fill(dim)(gauss(r))),
      Array.fill(k)(Array.fill(latent)(Array.fill(dim)(gauss(r) / math.sqrt(latent)))))
  }

  /** `n` points of the mixture: centre + spread · (loadings · z + 0.1 · noise). */
  def mixture(n: Int, m: Mixture, spread: Double, stream: Int): Array[Array[Float]] = {
    val r = rng(stream)
    val dim = m.dim
    Array.fill(n) {
      val c = r.nextInt(m.centres.length)
      val x = m.centres(c).clone()
      for (l <- m.loadings(c)) {
        val z = spread * gauss(r)
        var i = 0
        while (i < dim) { x(i) += z * l(i); i += 1 }
      }
      Array.tabulate(dim)(i => (x(i) + 0.1 * spread * gauss(r)).toFloat)
    }
  }

  /** Zipf(s) sampler over ranks 0 until v. */
  final class Zipf(v: Int, s: Double) {
    private val cdf = {
      val w = Array.tabulate(v)(i => 1.0 / math.pow(i + 1.0, s))
      val tot = w.sum
      var acc = 0.0
      w.map { x => acc += x / tot; acc }
    }
    def draw(r: SplittableRandom): Int = {
      val u = r.nextDouble()
      val i = java.util.Arrays.binarySearch(cdf, u)
      math.min(v - 1, if (i >= 0) i else -i - 1)
    }
  }

  def token(rank: Int): String = "t" + rank

  /** `n` whitespace-tokenized documents of Zipf-distributed tokens. */
  def docs(n: Int, vocab: Int, minLen: Int, maxLen: Int, stream: Int): Array[String] = {
    val r = rng(stream)
    val z = new Zipf(vocab, 1.07)
    Array.fill(n) {
      val len = minLen + r.nextInt(maxLen - minLen + 1)
      Array.fill(len)(token(z.draw(r))).mkString(" ")
    }
  }

  /** Short query strings: 2–4 tokens, drawn from the same Zipf law but
    * skipping the 20 most frequent ranks so most queries are selective. */
  def queryTexts(n: Int, vocab: Int, stream: Int): Array[String] = {
    val r = rng(stream)
    val z = new Zipf(vocab - 20, 1.0)
    Array.fill(n)(Array.fill(2 + r.nextInt(3))(token(20 + z.draw(r))).mkString(" "))
  }

  val categories: Int = 8

  /** Typed JSON metadata: a string, an integer, a double and a boolean, so
    * typed exact-match filters have something to distinguish. */
  def metas(n: Int, stream: Int): Array[Map[String, Any]] = {
    val r = rng(stream)
    Array.fill(n)(Map[String, Any](
      "cat" -> ("c" + r.nextInt(categories)),
      "year" -> (2000 + r.nextInt(20)),
      "price" -> (r.nextInt(2000) / 4.0 + 0.25),
      "flag" -> r.nextBoolean()))
  }

  /** Dedup corpus: `base` independent documents plus `planted` near-copies
    * of randomly chosen base documents. A near-copy replaces a few tokens
    * of its source, which fixes its 3-gram Jaccard to the source; the
    * benchmark computes that Jaccard exactly rather than trusting the
    * generator. Returns (docs, planted pairs (source, copy) by index). */
  def dedupCorpus(base: Int, planted: Int, vocab: Int, len: Int,
                  stream: Int): (Array[String], Array[(Int, Int)]) = {
    val r = rng(stream)
    val z = new Zipf(vocab, 0.9)
    val basis = Array.fill(base)(Array.fill(len)(token(z.draw(r))))
    val copies = Array.fill(planted) {
      val src = r.nextInt(base)
      val toks = basis(src).clone()
      val edits = 1 + r.nextInt(3)
      for (_ <- 0 until edits) toks(r.nextInt(len)) = token(vocab + r.nextInt(vocab))
      (src, toks)
    }
    // interleave copies among the base docs so they land in every batch
    val order = (basis.indices.map(i => Left(i): Either[Int, Int]) ++
      copies.indices.map(i => Right(i): Either[Int, Int])).toArray
    shuffle(order, r)
    val pos = new Array[Int](base)
    val docs = new Array[String](order.length)
    order.zipWithIndex.foreach {
      case (Left(i), p) => pos(i) = p; docs(p) = basis(i).mkString(" ")
      case (Right(j), p) => docs(p) = copies(j)._2.mkString(" ")
    }
    val pairs = order.zipWithIndex.collect { case (Right(j), p) =>
      val s = pos(copies(j)._1); (math.min(s, p), math.max(s, p))
    }
    (docs, pairs)
  }

  /** Embeddings for the dedup corpus: each planted copy sits next to its
    * source (cosine ≈ 0.99), every other doc is an independent mixture
    * draw. */
  def dedupEmbeddings(n: Int, pairs: Array[(Int, Int)], dim: Int,
                      stream: Int): Array[Array[Float]] = {
    val v = mixture(n, mixtureModel(16, dim, stream), 0.6, stream + 1)
    val r = rng(stream + 2)
    for ((a, b) <- pairs)
      v(b) = Array.tabulate(dim)(i => (v(a)(i) + 0.05 * gauss(r)).toFloat)
    v
  }

  def shuffle[T](a: Array[T], r: SplittableRandom): Unit = {
    var i = a.length - 1
    while (i > 0) {
      val j = r.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
      i -= 1
    }
  }
}

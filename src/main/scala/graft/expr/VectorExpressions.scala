package graft.expr

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.GraftColumnBridge
import org.apache.spark.sql.types._

/** Custom Catalyst expressions for vector math over ARRAY<FLOAT|DOUBLE>
  * (SURVEY §4.2-2). The `zip_with`/`aggregate` built-ins are semantically
  * right but their lambdas are interpreted (`ArrayAggregate.eval` is not
  * codegen'd) — measured >100× slower inside pairwise joins. These fuse the
  * whole fold into one generated loop over the unsafe array data: no
  * per-element boxing, no intermediate array, whole-stage-codegen friendly.
  *
  * Determinism contract (shared with the DuckDB oracle): accumulate in
  * double, strictly left-to-right, elements 0..n-1 — identical operation
  * order to the `aggregate(zip_with(...))` formulation and to
  * `list_sum(list_transform(...))`, so results are bit-equal.
  *
  * Semantics: null array → null; null element → null; length mismatch →
  * folds the common prefix (the arrays in this engine are fixed-dim).
  */
abstract class PairFoldExpression extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(lt, _), ArrayType(rt, _))
        if Seq(lt, rt).forall(t => t == FloatType || t == DoubleType) =>
        TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires ARRAY<FLOAT|DOUBLE> args, got " +
          s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
    }

  protected def elemType(e: Expression): DataType =
    e.dataType.asInstanceOf[ArrayType].elementType

  protected def genGet(arr: String, i: String, t: DataType): String =
    if (t == FloatType) s"(double) $arr.getFloat($i)" else s"$arr.getDouble($i)"

  /** Codegen pieces, parameterized on three fresh accumulator names so two
    * instances inside one generated method can't collide. */
  protected def accDecl(a1: String, a2: String, a3: String): String
  protected def accUpdate(x: String, y: String, a1: String, a2: String, a3: String): String
  protected def accResult(a1: String, a2: String, a3: String): String
  /** Interpreted twin of the generated loop: the shared [[VecKernels]] fold. */
  protected def fold(a: Array[Double], b: Array[Double], n: Int): Double

  /** The common prefix of both arrays as doubles (null on a null element). */
  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]; val b = r.asInstanceOf[ArrayData]
    val n = math.min(a.numElements(), b.numElements())
    val x = VecKernels.toDoubles(a, elemType(left) == FloatType, n)
    val y = VecKernels.toDoubles(b, elemType(right) == FloatType, n)
    if (x == null || y == null) null else fold(x, y, n)
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i"); val n = ctx.freshName("n")
      val x = ctx.freshName("x"); val y = ctx.freshName("y")
      val a1 = ctx.freshName("acc1"); val a2 = ctx.freshName("acc2"); val a3 = ctx.freshName("acc3")
      s"""
         |final int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |${accDecl(a1, a2, a3)}
         |for (int $i = 0; $i < $n; $i++) {
         |  if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }
         |  final double $x = ${genGet(a, i, elemType(left))};
         |  final double $y = ${genGet(b, i, elemType(right))};
         |  ${accUpdate(x, y, a1, a2, a3)}
         |}
         |if (!${ev.isNull}) { ${ev.value} = ${accResult(a1, a2, a3)}; }
         |""".stripMargin
    })
}

/** Σ (a_i − b_i)² — the reference's vector distance (squared L2; hnswlib
  * space='l2' and faiss.IndexFlatL2 both return it, local_db.py:42–48). */
case class SquaredL2(left: Expression, right: Expression) extends PairFoldExpression {
  override def prettyName: String = "vec_squared_l2"
  protected def accDecl(a1: String, a2: String, a3: String) =
    s"double $a1 = 0.0; double $a2 = 0.0;"
  protected def accUpdate(x: String, y: String, a1: String, a2: String, a3: String) =
    s"$a2 = $x - $y; $a1 += $a2 * $a2;"
  protected def accResult(a1: String, a2: String, a3: String) = a1
  protected def fold(a: Array[Double], b: Array[Double], n: Int): Double =
    VecKernels.squaredL2(a, b, n)
  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Σ a_i·b_i */
case class DotProduct(left: Expression, right: Expression) extends PairFoldExpression {
  override def prettyName: String = "vec_dot"
  protected def accDecl(a1: String, a2: String, a3: String) = s"double $a1 = 0.0;"
  protected def accUpdate(x: String, y: String, a1: String, a2: String, a3: String) =
    s"$a1 += $x * $y;"
  protected def accResult(a1: String, a2: String, a3: String) = a1
  protected def fold(a: Array[Double], b: Array[Double], n: Int): Double =
    VecKernels.dot(a, b, n)
  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** dot(a,b) / (‖a‖·‖b‖) in one fused pass (3 accumulators, 1 loop) —
  * replaces three separate interpreted folds in the pairwise hot path. */
case class CosineSim(left: Expression, right: Expression) extends PairFoldExpression {
  override def prettyName: String = "vec_cosine"
  protected def accDecl(a1: String, a2: String, a3: String) =
    s"double $a1 = 0.0; double $a2 = 0.0; double $a3 = 0.0;"
  protected def accUpdate(x: String, y: String, a1: String, a2: String, a3: String) =
    s"$a1 += $x * $y; $a2 += $x * $x; $a3 += $y * $y;"
  protected def accResult(a1: String, a2: String, a3: String) =
    s"$a1 / (java.lang.Math.sqrt($a2) * java.lang.Math.sqrt($a3))"
  protected def fold(a: Array[Double], b: Array[Double], n: Int): Double =
    VecKernels.cosine(a, b, n)
  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** argmin_c Σ (v_i − centroid_c_i)² — the IVF/k-means assignment kernel as a
  * codegen expression (r1 VERDICT minor #6: the Scala-UDF formulation ran
  * interpreted with per-row boxing). The centroid table is a broadcast-sized
  * constant (≤ nlist × dim doubles — the same thing FAISS holds in RAM)
  * carried as a plan reference object, so the generated code is one fused
  * double loop per row with zero allocation. Ties break to the lowest
  * cluster index (strict `<`), matching the driver-side probe order. */
case class NearestCentroid(child: Expression, centroids: Array[Array[Double]])
    extends UnaryExpression {
  override def prettyName: String = "vec_nearest_centroid"
  override def dataType: DataType = IntegerType
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(t, _) if t == FloatType || t == DoubleType =>
      TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires an ARRAY<FLOAT|DOUBLE> arg, got ${other.simpleString}")
  }

  private def elemT: DataType = child.dataType.asInstanceOf[ArrayType].elementType

  override def nullSafeEval(v: Any): Any = {
    val arr = v.asInstanceOf[ArrayData]
    val isF = elemT == FloatType
    var best = 0; var bestD = Double.MaxValue
    var c = 0
    while (c < centroids.length) {
      val cen = centroids(c)
      val n = math.min(cen.length, arr.numElements())
      var d = 0.0; var i = 0
      while (i < n) {
        val x = (if (isF) arr.getFloat(i).toDouble else arr.getDouble(i)) - cen(i)
        d += x * x; i += 1
      }
      if (d < bestD) { bestD = d; best = c }
      c += 1
    }
    best
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cents = ctx.addReferenceObj("centroids", centroids, "double[][]")
    val get = if (elemT == FloatType) "getFloat" else "getDouble"
    nullSafeCodeGen(ctx, ev, v => {
      val c = ctx.freshName("c"); val i = ctx.freshName("i"); val n = ctx.freshName("n")
      val d = ctx.freshName("d"); val x = ctx.freshName("x")
      val best = ctx.freshName("best"); val bestD = ctx.freshName("bestD")
      val cen = ctx.freshName("cen")
      s"""
         |int $best = 0; double $bestD = Double.MAX_VALUE;
         |for (int $c = 0; $c < $cents.length; $c++) {
         |  final double[] $cen = $cents[$c];
         |  final int $n = java.lang.Math.min($cen.length, $v.numElements());
         |  double $d = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    final double $x = ((double) $v.$get($i)) - $cen[$i];
         |    $d += $x * $x;
         |  }
         |  if ($d < $bestD) { $bestD = $d; $best = $c; }
         |}
         |${ev.value} = $best;
         |""".stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** All sign-random-projection band signatures in ONE fused pass: for band b
  * and bit k, bit = (Σ_i v_i · planes[b·bitsPerBand+k][i] > 0) ? '1' : '0';
  * output is one `bitsPerBand`-char string per band. The plane matrix rides
  * as a plan reference object (bands × bitsPerBand × dim doubles — constant-
  * sized, like [[NearestCentroid]]'s centroid table), so the generated code
  * is three nested double loops with zero allocation beyond the output
  * strings. Replaces a Project of bands × bitsPerBand separate dot
  * expressions over 64-element literal arrays, whose generated method was
  * the dominant janino-compile cost of the banded dedup funnel.
  * Accumulation is strictly left-to-right in double — bit-identical to
  * [[DotProduct]] and to the SQL oracle's `list_sum(list_transform(...))`. */
case class SignBands(child: Expression, planes: Array[Array[Double]], bitsPerBand: Int)
    extends UnaryExpression {
  require(planes.nonEmpty && planes.length % bitsPerBand == 0,
    "planes must hold bands × bitsPerBand rows")
  override def prettyName: String = "vec_sign_bands"
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(t, _) if t == FloatType || t == DoubleType =>
      TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires an ARRAY<FLOAT|DOUBLE> arg, got ${other.simpleString}")
  }

  private def elemT: DataType = child.dataType.asInstanceOf[ArrayType].elementType

  override def nullSafeEval(v: Any): Any = {
    val arr = v.asInstanceOf[ArrayData]
    val isF = elemT == FloatType
    val nBands = planes.length / bitsPerBand
    val out = new Array[Any](nBands)
    var b = 0
    while (b < nBands) {
      val bytes = new Array[Byte](bitsPerBand)
      var k = 0
      while (k < bitsPerBand) {
        val p = planes(b * bitsPerBand + k)
        val n = math.min(p.length, arr.numElements())
        var d = 0.0; var i = 0
        while (i < n) {
          d += (if (isF) arr.getFloat(i).toDouble else arr.getDouble(i)) * p(i)
          i += 1
        }
        bytes(k) = if (d > 0) '1' else '0'
        k += 1
      }
      out(b) = org.apache.spark.unsafe.types.UTF8String.fromBytes(bytes)
      b += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ps = ctx.addReferenceObj("planes", planes, "double[][]")
    val get = if (elemT == FloatType) "getFloat" else "getDouble"
    val nBands = planes.length / bitsPerBand
    nullSafeCodeGen(ctx, ev, v => {
      val b = ctx.freshName("b"); val k = ctx.freshName("k"); val i = ctx.freshName("i")
      val n = ctx.freshName("n"); val d = ctx.freshName("d")
      val p = ctx.freshName("p"); val bytes = ctx.freshName("bytes")
      val out = ctx.freshName("out")
      s"""
         |final Object[] $out = new Object[$nBands];
         |for (int $b = 0; $b < $nBands; $b++) {
         |  final byte[] $bytes = new byte[$bitsPerBand];
         |  for (int $k = 0; $k < $bitsPerBand; $k++) {
         |    final double[] $p = $ps[$b * $bitsPerBand + $k];
         |    final int $n = java.lang.Math.min($p.length, $v.numElements());
         |    double $d = 0.0;
         |    for (int $i = 0; $i < $n; $i++) {
         |      $d += ((double) $v.$get($i)) * $p[$i];
         |    }
         |    $bytes[$k] = $d > 0 ? (byte) '1' : (byte) '0';
         |  }
         |  $out[$b] = org.apache.spark.unsafe.types.UTF8String.fromBytes($bytes);
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
         |""".stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** SQ8 dequantize-and-fold kernels (round 18, guide §1.2 step 2 /
  * "expressions and codegen"): the SQ8 bound scan's hot path computed
  * x̂ = mins + code·steps via `zip_with` lambdas over two 64-literal
  * arrays, then folded (x̂ − q) through a second zip_with — interpreted
  * per (row, query) pair (HigherOrderFunction lambdas are CodegenFallback),
  * materializing two intermediate arrays per pair, and the optimizer's
  * inferred isnotnull constraints DUPLICATED the whole tree into the
  * cross-join condition (see plans/r18/knn_batch_sq8_before.txt node 11).
  * These fuse dequantize + fold into ONE generated loop with the quantizer
  * arrays as plan reference objects (the [[NearestCentroid]] discipline):
  * no intermediate array, no boxing, a plan tree that is O(1) in dim.
  *
  * Bit-equality contract with the old formulation (so the shared exact
  * oracles hold unchanged): x̂_i = mins[i] + code_i·steps[i] (int → double
  * promotion, same op order), accumulation strictly left-to-right in
  * double over min(|code|, |q|, dim) elements; null array → null, null
  * element → null. IEEE multiplication is commutative, so `|d|·s` here ≡
  * the old `dot(|x̂−q|, steps)` exactly.
  */
abstract class SqDeqFoldExpression extends BinaryExpression {
  def mins: Array[Double]
  def steps: Array[Double]
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(IntegerType, _), ArrayType(rt, _))
        if rt == FloatType || rt == DoubleType =>
        TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires (ARRAY<INT>, ARRAY<FLOAT|DOUBLE>) args, got " +
          s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
    }

  private def qElemT: DataType = right.dataType.asInstanceOf[ArrayType].elementType

  /** The interpreted fold over dequantized x̂ and q (shared [[VecKernels]] loop). */
  protected def fold(xhat: Array[Double], q: Array[Double], n: Int): Double
  /** Java source for the same step: updates `acc` from `xhat`, `q`, `step`. */
  protected def genStep(acc: String, xhat: String, q: String, step: String): String

  override def nullSafeEval(l: Any, r: Any): Any = {
    val code = l.asInstanceOf[ArrayData]; val q = r.asInstanceOf[ArrayData]
    val n = math.min(math.min(code.numElements(), q.numElements()), mins.length)
    val xhat = VecKernels.dequantize(code, mins, steps, n)
    val qd = VecKernels.toDoubles(q, qElemT == FloatType, n)
    if (xhat == null || qd == null) null else fold(xhat, qd, n)
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val mn = ctx.addReferenceObj("mins", mins, "double[]")
    val st = ctx.addReferenceObj("steps", steps, "double[]")
    val get = if (qElemT == FloatType) "getFloat" else "getDouble"
    nullSafeCodeGen(ctx, ev, (c, q) => {
      val i = ctx.freshName("i"); val n = ctx.freshName("n")
      val acc = ctx.freshName("acc"); val xh = ctx.freshName("xhat")
      val qi = ctx.freshName("qi")
      s"""
         |final int $n = java.lang.Math.min(
         |  java.lang.Math.min($c.numElements(), $q.numElements()), $mn.length);
         |double $acc = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  if ($c.isNullAt($i) || $q.isNullAt($i)) { ${ev.isNull} = true; break; }
         |  final double $xh = $mn[$i] + $c.getInt($i) * $st[$i];
         |  final double $qi = (double) $q.$get($i);
         |  ${genStep(acc, xh, qi, s"$st[$i]")}
         |}
         |if (!${ev.isNull}) { ${ev.value} = $acc; }
         |""".stripMargin
    })
  }
}

/** d̂ = Σ (x̂_i − q_i)² — the SQ8 approximate squared-L2 from codes. */
case class SqDeqSquaredL2(left: Expression, right: Expression,
                          mins: Array[Double], steps: Array[Double])
    extends SqDeqFoldExpression {
  override def prettyName: String = "sq_deq_squared_l2"
  protected def fold(xhat: Array[Double], q: Array[Double], n: Int): Double =
    VecKernels.squaredL2(xhat, q, n)
  protected def genStep(acc: String, xhat: String, q: String, step: String): String =
    s"$acc += ($xhat - $q) * ($xhat - $q);"
  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** B = Σ s_i·|x̂_i − q_i| — the interval-bound slack term of the SQ8 proof. */
case class SqDeqBandBound(left: Expression, right: Expression,
                          mins: Array[Double], steps: Array[Double])
    extends SqDeqFoldExpression {
  override def prettyName: String = "sq_deq_band_bound"
  protected def fold(xhat: Array[Double], q: Array[Double], n: Int): Double =
    VecKernels.bandBound(xhat, q, steps, n)
  protected def genStep(acc: String, xhat: String, q: String, step: String): String =
    s"$acc += java.lang.Math.abs($xhat - $q) * $step;"
  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Σ x̂_i·q_i — the SQ8 dequantized dot (the cosine arm's numerator). */
case class SqDeqDot(left: Expression, right: Expression,
                    mins: Array[Double], steps: Array[Double])
    extends SqDeqFoldExpression {
  override def prettyName: String = "sq_deq_dot"
  protected def fold(xhat: Array[Double], q: Array[Double], n: Int): Double =
    VecKernels.dot(xhat, q, n)
  protected def genStep(acc: String, xhat: String, q: String, step: String): String =
    s"$acc += $xhat * $q;"
  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Per-query flat ADC table (round 18, VERDICT #7 — the closure-table
  * kernel generalized to DISTRIBUTED query frames): for query q, entry
  * [c·m·kk + s·kk + j] = ‖(q − centroid_c)_s − codebook_s(j)‖², the same
  * layout `ResidualPQ.exactBounds` builds driver-side. `centroids` is
  * indexed by RAW cluster id (dense array, zero rows for gaps — gaps are
  * never looked up because codes only carry real ids); an EMPTY centroids
  * array means plain (non-residual) PQ — one implicit zero centroid, so
  * callers look up cluster 0. Evaluated once per QUERY row on the
  * broadcast side (|Q| rows), so interpreted eval is fine (CodegenFallback);
  * the per-corpus-row work stays in [[AdcLookupSum]], which IS codegen.
  * Each centroid's block is [[VecKernels.adcTable]], the loop every ADC
  * table in the engine is built with. */
case class AdcFlatTables(child: Expression,
                         centroids: Array[Array[Double]],
                         codebooks: Array[Array[Array[Double]]])
    extends UnaryExpression with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {
  override def prettyName: String = "adc_flat_tables"
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(t, _) if t == FloatType || t == DoubleType =>
      TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires an ARRAY<FLOAT|DOUBLE> arg, got ${other.simpleString}")
  }

  private def elemT: DataType = child.dataType.asInstanceOf[ArrayType].elementType

  override def nullSafeEval(v: Any): Any = {
    val arr = v.asInstanceOf[ArrayData]
    val isF = elemT == FloatType
    val m = codebooks.length
    val kk = codebooks.map(_.length).max
    val dim = math.min(arr.numElements(),
      codebooks.map(_.head.length).sum) // m · subDim
    val q = Array.tabulate(dim)(i =>
      if (isF) arr.getFloat(i).toDouble else arr.getDouble(i))
    val cens: Array[Array[Double]] =
      if (centroids.isEmpty) Array(new Array[Double](dim)) else centroids
    val flat = new Array[Double](cens.length * m * kk)
    for ((cen, c) <- cens.zipWithIndex if cen != null && cen.length >= dim)
      VecKernels.adcTable(q, cen, codebooks, dim / m, kk, flat, c * m * kk)
    new org.apache.spark.sql.catalyst.util.GenericArrayData(flat)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Σ_s tables[cluster·m·kk + s·kk + code_s] — the per-row ADC distance as
  * ONE codegen loop over the code bytes and the (broadcast-side) flat
  * table column. Fixed ascending-s fold (the `exactBounds` discipline —
  * the relational groupBy-sum it replaces had a nondeterministic merge
  * order, so any fixed order is strictly tighter pinning). For plain PQ
  * pass `cluster = lit(0)` (the [[AdcFlatTables]] empty-centroids
  * convention). A code outside [0, kk) fails with the named error the
  * ADC scorer of [[graft.plans.KnnTopK]] raises. */
case class AdcLookupSum(codesArr: Expression, cluster: Expression, tables: Expression,
                        m: Int, kk: Int)
    extends org.apache.spark.sql.catalyst.expressions.TernaryExpression {
  override def prettyName: String = "adc_lookup_sum"
  override def first: Expression = codesArr
  override def second: Expression = cluster
  override def third: Expression = tables
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    (codesArr.dataType, cluster.dataType, tables.dataType) match {
      case (ArrayType(IntegerType, _), IntegerType, ArrayType(DoubleType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires (ARRAY<INT>, INT, ARRAY<DOUBLE>) args, got " +
          s"(${codesArr.dataType.simpleString}, ${cluster.dataType.simpleString}, " +
          s"${tables.dataType.simpleString})")
    }

  override def nullSafeEval(cs: Any, cl: Any, tb: Any): Any = {
    val codes = cs.asInstanceOf[ArrayData]
    val base = cl.asInstanceOf[Int] * m * kk
    val t = tb.asInstanceOf[ArrayData]
    var acc = 0.0
    var s = 0
    val n = math.min(m, codes.numElements())
    while (s < n) {
      acc += t.getDouble(base + s * kk + AdcLookupSum.checked(codes.getInt(s), kk))
      s += 1
    }
    acc
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (cs, cl, tb) => {
      val s = ctx.freshName("s"); val n = ctx.freshName("n")
      val acc = ctx.freshName("acc"); val base = ctx.freshName("base")
      s"""
         |final int $n = java.lang.Math.min($m, $cs.numElements());
         |final int $base = $cl * ${m * kk};
         |double $acc = 0.0;
         |for (int $s = 0; $s < $n; $s++) {
         |  $acc += $tb.getDouble($base + $s * $kk +
         |    graft.expr.AdcLookupSum.checked($cs.getInt($s), $kk));
         |}
         |${ev.value} = $acc;
         |""".stripMargin
    })

  override protected def withNewChildrenInternal(f: Expression, sec: Expression, t: Expression): Expression =
    copy(codesArr = f, cluster = sec, tables = t)
}

object AdcLookupSum {
  /** `code` when it indexes a codebook of `kk` entries, else the named error. */
  def checked(code: Int, kk: Int): Int = {
    require(code >= 0 && code < kk, s"adc_lookup_sum codes row has code $code outside the trained codebooks")
    code
  }
}

/** |A ∩ B| of two SORTED, de-duplicated ARRAY<STRING> columns via a single
  * merge walk — the set-similarity verification kernel. The exploded-join
  * formulation (pair ⨝ shingles(a) ⨝ shingles(b) on (id, gram) + count)
  * shuffles |pairs| × |doc| rows; this joins each pair to TWO one-row-per-doc
  * array frames and intersects in ~|A|+|B| binary string compares, no
  * shuffle of per-gram rows at all. Inputs MUST be sorted ascending in
  * Spark's UTF8String binary order (`sort_array(array_distinct(...))`) —
  * the merge walk silently undercounts otherwise. */
case class SortedIntersectCount(left: Expression, right: Expression) extends BinaryExpression {
  override def prettyName: String = "sorted_intersect_count"
  override def dataType: DataType = LongType
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(StringType, _), ArrayType(StringType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires ARRAY<STRING> args, got " +
          s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
    }

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]; val b = r.asInstanceOf[ArrayData]
    var i = 0; var j = 0; var n = 0L
    while (i < a.numElements() && j < b.numElements()) {
      val c = a.getUTF8String(i).compareTo(b.getUTF8String(j))
      if (c == 0) { n += 1; i += 1; j += 1 }
      else if (c < 0) i += 1
      else j += 1
    }
    n
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i"); val j = ctx.freshName("j")
      val n = ctx.freshName("n"); val c = ctx.freshName("c")
      s"""
         |long $n = 0L; int $i = 0; int $j = 0;
         |while ($i < $a.numElements() && $j < $b.numElements()) {
         |  final int $c = $a.getUTF8String($i).compareTo($b.getUTF8String($j));
         |  if ($c == 0) { $n++; $i++; $j++; }
         |  else if ($c < 0) { $i++; } else { $j++; }
         |}
         |${ev.value} = $n;
         |""".stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** The scalar fold loops behind the interpreted twins above and behind the
  * fused batch-KNN operator ([[graft.plans.KnnTopK]]): one copy of each
  * loop, over dense double arrays, accumulating in double strictly left to
  * right over elements 0..n-1 — the order the generated code uses, so
  * every caller is bit-equal to the codegen'd expressions. Compiled once
  * by scalac, so the JIT keeps them warm across queries. */
object VecKernels {

  /** Σ (a_i − b_i)². */
  def squaredL2(a: Array[Double], b: Array[Double], n: Int): Double = {
    var s = 0.0; var i = 0
    while (i < n) { val d = a(i) - b(i); s += d * d; i += 1 }
    s
  }

  /** Σ a_i·b_i. */
  def dot(a: Array[Double], b: Array[Double], n: Int): Double = {
    var s = 0.0; var i = 0
    while (i < n) { s += a(i) * b(i); i += 1 }
    s
  }

  /** a·b / (‖a‖·‖b‖), the three sums in one pass. */
  def cosine(a: Array[Double], b: Array[Double], n: Int): Double = {
    var dt = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < n) {
      val x = a(i); val y = b(i)
      dt += x * y; na += x * x; nb += y * y; i += 1
    }
    dt / (math.sqrt(na) * math.sqrt(nb))
  }

  /** Σ |x̂_i − q_i|·s_i — the SQ8 interval-bound term. */
  def bandBound(xhat: Array[Double], q: Array[Double], steps: Array[Double], n: Int): Double = {
    var s = 0.0; var i = 0
    while (i < n) { s += math.abs(xhat(i) - q(i)) * steps(i); i += 1 }
    s
  }

  /** The first `n` elements as doubles (float → double is exact); null if
    * any of them is null. */
  def toDoubles(a: ArrayData, isFloat: Boolean, n: Int): Array[Double] = {
    val out = new Array[Double](n)
    var i = 0
    while (i < n) {
      if (a.isNullAt(i)) return null
      out(i) = if (isFloat) a.getFloat(i).toDouble else a.getDouble(i)
      i += 1
    }
    out
  }

  /** x̂_i = mins_i + code_i·steps_i for the first `n` codes; null if any of
    * them is null. */
  def dequantize(code: ArrayData, mins: Array[Double], steps: Array[Double],
                 n: Int): Array[Double] = {
    val out = new Array[Double](n)
    var i = 0
    while (i < n) {
      if (code.isNullAt(i)) return null
      out(i) = mins(i) + code.getInt(i) * steps(i)
      i += 1
    }
    out
  }

  /** The flat ADC table of query `q` against coarse centroid `cen` (a zero
    * centroid for plain PQ): out(off + s·kk + j) = Σ_i ((q_i − cen_i) −
    * codebooks(s)(j)_i)² over subspace s's `subDim` coordinates, i
    * ascending. */
  def adcTable(q: Array[Double], cen: Array[Double], codebooks: Array[Array[Array[Double]]],
               subDim: Int, kk: Int, out: Array[Double], off: Int): Unit = {
    var s = 0
    while (s < codebooks.length) {
      val book = codebooks(s)
      var j = 0
      while (j < book.length) {
        val b = book(j)
        var d = 0.0; var i = 0
        while (i < subDim) {
          val x = (q(s * subDim + i) - cen(s * subDim + i)) - b(i)
          d += x * x; i += 1
        }
        out(off + s * kk + j) = d
        j += 1
      }
      s += 1
    }
  }

  /** The LSH bucket of `q` along unit direction `w`: ⌊q·w / bucketLength⌋. */
  def lshBucket(q: Array[Double], w: Array[Double], bucketLength: Double): Int =
    math.floor(dot(q, w, math.min(q.length, w.length)) / bucketLength).toInt

  /** The `nprobe` nearest clusters of `q` by squared L2 over the common
    * prefix, ties by cluster id — the IVF probe set. */
  def nearestClusters(q: Array[Double], centroids: Array[(Int, Array[Double])],
                      nprobe: Int): Array[Int] =
    centroids.map { case (c, cen) => (squaredL2(q, cen, math.min(cen.length, q.length)), c) }
      .sortWith { (x, y) =>
        val c = java.lang.Double.compare(x._1, y._1)
        c < 0 || (c == 0 && x._2 < y._2)
      }
      .take(math.max(1, nprobe)).map(_._2)
}

/** Column-API entry points. */
object VectorExpr {
  private def c(e: Expression): Column = GraftColumnBridge.column(e)
  private def x(col: Column): Expression = GraftColumnBridge.expression(col)

  def squaredL2(a: Column, b: Column): Column = c(SquaredL2(x(a), x(b)))
  def dot(a: Column, b: Column): Column = c(DotProduct(x(a), x(b)))
  def cosine(a: Column, b: Column): Column = c(CosineSim(x(a), x(b)))
  def nearestCentroid(v: Column, centroids: Array[Array[Double]]): Column =
    c(NearestCentroid(x(v), centroids))
  def signBands(v: Column, planes: Array[Array[Double]], bitsPerBand: Int): Column =
    c(SignBands(x(v), planes, bitsPerBand))
  def sortedIntersectCount(a: Column, b: Column): Column =
    c(SortedIntersectCount(x(a), x(b)))
  def sqDeqSquaredL2(code: Column, q: Column, mins: Array[Double], steps: Array[Double]): Column =
    c(SqDeqSquaredL2(x(code), x(q), mins, steps))
  def sqDeqBandBound(code: Column, q: Column, mins: Array[Double], steps: Array[Double]): Column =
    c(SqDeqBandBound(x(code), x(q), mins, steps))
  def sqDeqDot(code: Column, q: Column, mins: Array[Double], steps: Array[Double]): Column =
    c(SqDeqDot(x(code), x(q), mins, steps))
  def adcFlatTables(q: Column, centroids: Array[Array[Double]],
                    codebooks: Array[Array[Array[Double]]]): Column =
    c(AdcFlatTables(x(q), centroids, codebooks))
  def adcLookupSum(codes: Column, cluster: Column, tables: Column, m: Int, kk: Int): Column =
    c(AdcLookupSum(x(codes), x(cluster), x(tables), m, kk))
}

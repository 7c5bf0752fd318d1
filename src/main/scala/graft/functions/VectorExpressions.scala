package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.current_timestamp
import org.apache.spark.sql.graftshim.{GraftShim => ExpressionUtils}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, StructField, StructType}

/** Native codegen'd vector kernels. The higher-order-function forms
  * (zip_with + aggregate) are CodegenFallback in Spark — interpreted,
  * boxing every element — which dominates all-pairs similarity joins
  * (q38: |pairs| × dim evaluations). These expressions generate a tight
  * primitive loop instead, keeping the hot path inside whole-stage
  * codegen.
  *
  * Semantics exactly match the HOF forms used by the DuckDB oracles:
  * cast each element to double FIRST, multiply, then accumulate
  * left-to-right (same IEEE op order → bit-identical results, so
  * swapping implementations cannot break hash parity). A null element
  * or null input yields null, like zip_with/aggregate.
  */
object VectorExpressions {

  private def elemType(dt: DataType): DataType = dt match {
    case ArrayType(et, _) => et
    case other => throw new IllegalArgumentException(
      s"expected array type, got $other")
  }

  private def getter(et: DataType, arr: String, i: String): String = et match {
    case FloatType => s"(double) $arr.getFloat($i)"
    case DoubleType => s"$arr.getDouble($i)"
    case other => throw new IllegalArgumentException(
      s"unsupported element type $other")
  }

  private def toDouble(et: DataType, arr: ArrayData, i: Int): Double = et match {
    case FloatType => arr.getFloat(i).toDouble
    case DoubleType => arr.getDouble(i)
    case other => throw new IllegalArgumentException(
      s"unsupported element type $other")
  }

  /** dot(a, b) = Σ (double)a[i] * (double)b[i], sequential. */
  case class DotProduct(left: Expression, right: Expression)
      extends BinaryExpression {
    override def dataType: DataType = DoubleType
    override def nullIntolerant: Boolean = true
    override def nullable: Boolean = true

    override def nullSafeEval(l: Any, r: Any): Any = {
      val a = l.asInstanceOf[ArrayData]; val b = r.asInstanceOf[ArrayData]
      val la = elemType(left.dataType); val lb = elemType(right.dataType)
      // length mismatch → null, like zip_with's null-padding fold
      if (a.numElements() != b.numElements()) return null
      val n = a.numElements()
      var s = 0.0; var i = 0
      while (i < n) {
        if (a.isNullAt(i) || b.isNullAt(i)) return null
        s += toDouble(la, a, i) * toDouble(lb, b, i)
        i += 1
      }
      s
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val la = elemType(left.dataType); val lb = elemType(right.dataType)
      nullSafeCodeGen(ctx, ev, (a, b) => {
        val i = ctx.freshName("i"); val n = ctx.freshName("n")
        val s = ctx.freshName("s")
        s"""
           |if ($a.numElements() != $b.numElements()) { ${ev.isNull} = true; }
           |int $n = $a.numElements();
           |double $s = 0.0;
           |for (int $i = 0; $i < $n && !${ev.isNull}; $i++) {
           |  if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }
           |  $s += (${getter(la, a, i)}) * (${getter(lb, b, i)});
           |}
           |${ev.value} = $s;
         """.stripMargin
      })
    }

    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): Expression =
      copy(left = newLeft, right = newRight)
  }

  /** sumsq(a) = Σ ((double)a[i])², sequential — the RMS/norm kernel. */
  case class SumSq(child: Expression) extends UnaryExpression {
    override def dataType: DataType = DoubleType
    override def nullIntolerant: Boolean = true
    override def nullable: Boolean = true

    override def nullSafeEval(v: Any): Any = {
      val a = v.asInstanceOf[ArrayData]
      val et = elemType(child.dataType)
      var s = 0.0; var i = 0
      val n = a.numElements()
      while (i < n) {
        if (a.isNullAt(i)) return null
        val x = toDouble(et, a, i); s += x * x
        i += 1
      }
      s
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val et = elemType(child.dataType)
      nullSafeCodeGen(ctx, ev, a => {
        val i = ctx.freshName("i"); val n = ctx.freshName("n")
        val s = ctx.freshName("s"); val x = ctx.freshName("x")
        s"""
           |int $n = $a.numElements();
           |double $s = 0.0;
           |for (int $i = 0; $i < $n; $i++) {
           |  if ($a.isNullAt($i)) { ${ev.isNull} = true; break; }
           |  double $x = ${getter(et, a, i)};
           |  $s += $x * $x;
           |}
           |${ev.value} = $s;
         """.stripMargin
      })
    }

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** The one-pass signal moments of an array, as
    * struct(sum, m2_sum, m4_sum, max_abs_dev):
    *   sum         = Σ x                  (pass 1)
    *   mean        = sum / n
    *   m2_sum      = Σ (x − mean)²        (pass 2)
    *   m4_sum      = Σ (((x − mean)·(x − mean))·(x − mean))·(x − mean)
    *   max_abs_dev = max |x − mean|, NaN largest; null when n = 0
    * Every sum is a left fold from 0.0 over elements cast to double,
    * the IEEE operation order of the `aggregate`/`transform` forms
    * (mean = aggregate(x, 0.0, +) / n, then a fold of the centered
    * terms; max_abs_dev is `array_max` over them), so results are
    * bit-identical to those forms at O(n) compiled cost instead of
    * re-evaluating the mean once per element. The only division in the
    * kernel is the mean's (unused when n = 0): callers divide the sums
    * by `size` at the Column level, which keeps Spark's Divide
    * semantics for an empty array under ANSI on or off.
    * A null input or a null element yields null, like the folds.
    */
  case class SignalMoments(child: Expression) extends UnaryExpression {
    override def dataType: DataType = SignalMoments.Type
    override def nullIntolerant: Boolean = true
    override def nullable: Boolean = true

    override def nullSafeEval(v: Any): Any = {
      val a = v.asInstanceOf[ArrayData]
      val et = elemType(child.dataType)
      val n = a.numElements()
      var sum = 0.0; var i = 0
      while (i < n) {
        if (a.isNullAt(i)) return null
        sum += toDouble(et, a, i)
        i += 1
      }
      val mean = sum / n
      var m2 = 0.0; var m4 = 0.0; var maxDev = Double.NaN
      i = 0
      while (i < n) {
        val c = toDouble(et, a, i) - mean
        m2 += c * c
        m4 += c * c * c * c
        val dev = math.abs(c)
        if (i == 0 || (!maxDev.isNaN && (dev.isNaN || dev > maxDev))) maxDev = dev
        i += 1
      }
      new GenericInternalRow(Array[Any](sum, m2, m4, if (n == 0) null else maxDev))
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val et = elemType(child.dataType)
      nullSafeCodeGen(ctx, ev, a => {
        val i = ctx.freshName("i"); val n = ctx.freshName("n")
        val sum = ctx.freshName("sum"); val mean = ctx.freshName("mean")
        val m2 = ctx.freshName("m2"); val m4 = ctx.freshName("m4")
        val c = ctx.freshName("c"); val dev = ctx.freshName("dev")
        val maxDev = ctx.freshName("maxDev")
        s"""
           |int $n = $a.numElements();
           |double $sum = 0.0;
           |for (int $i = 0; $i < $n; $i++) {
           |  if ($a.isNullAt($i)) { ${ev.isNull} = true; break; }
           |  $sum += ${getter(et, a, i)};
           |}
           |if (!${ev.isNull}) {
           |  double $mean = $sum / $n;
           |  double $m2 = 0.0; double $m4 = 0.0; double $maxDev = Double.NaN;
           |  for (int $i = 0; $i < $n; $i++) {
           |    double $c = ${getter(et, a, i)} - $mean;
           |    $m2 += $c * $c;
           |    $m4 += $c * $c * $c * $c;
           |    double $dev = java.lang.Math.abs($c);
           |    if ($i == 0 || (!Double.isNaN($maxDev) && (Double.isNaN($dev) || $dev > $maxDev))) {
           |      $maxDev = $dev;
           |    }
           |  }
           |  ${ev.value} = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
           |    new Object[] {$sum, $m2, $m4, $n == 0 ? null : (Object) $maxDev});
           |}
         """.stripMargin
      })
    }

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  object SignalMoments {
    val Type: StructType = StructType(Seq(
      StructField("sum", DoubleType, nullable = false),
      StructField("m2_sum", DoubleType, nullable = false),
      StructField("m4_sum", DoubleType, nullable = false),
      StructField("max_abs_dev", DoubleType, nullable = true)))
  }

  /** A per-execution constant that stays out of the generated source.
    * A constant child (the Literal the optimizer makes of a query's
    * `current_timestamp()`, or of a micro-batch's
    * `CurrentBatchTimestamp`) is normally inlined into whole-stage
    * codegen source, so every micro-batch, and every `foreachBatch`
    * write, compiles a fresh class for the same operators. This wrapper
    * is not foldable, so the optimizer leaves it in place; its
    * generated code reads the child's value from the stage's
    * `references` array, so the source, and with it the compiled class,
    * is the same on every execution while the value is still one per
    * execution. A child that is not constant by code-generation time
    * generates its own code: the wrapper never changes a value. It is
    * an ordinary codegen expression, not a `CodegenFallback`, which
    * would take its whole projection out of whole-stage codegen.
    */
  case class BatchConstant(child: Expression) extends UnaryExpression {
    override def dataType: DataType = child.dataType
    override def nullable: Boolean = child.nullable
    override def foldable: Boolean = false

    override def eval(input: InternalRow): Any = child.eval(input)

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      if (!child.foldable) child.genCode(ctx)
      else {
        val ref = ctx.addReferenceObj("batchConstant", child.eval(),
          CodeGenerator.boxedType(dataType))
        ev.copy(code = code"""
          |boolean ${ev.isNull} = $ref == null;
          |${CodeGenerator.javaType(dataType)} ${ev.value} = ${ev.isNull} ?
          |  ${CodeGenerator.defaultValue(dataType)} : $ref;
         """.stripMargin)
      }

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** `current_timestamp()`, one value per query execution (per
    * micro-batch in a stream), read through [[BatchConstant]] so the
    * generated code does not change from batch to batch.
    */
  def batchTimestamp(): Column =
    ExpressionUtils.column(BatchConstant(ExpressionUtils.expression(current_timestamp())))

  def dot(a: Column, b: Column): Column =
    ExpressionUtils.column(DotProduct(
      ExpressionUtils.expression(a), ExpressionUtils.expression(b)))

  def sumsq(a: Column): Column =
    ExpressionUtils.column(SumSq(ExpressionUtils.expression(a)))

  /** Product-quantization encoder: per subspace i (of `m`, each
    * `dsub = dim/m` wide), the index of the nearest codebook centroid
    * (squared L2) — the m-byte PQ code of a vector, produced in ONE
    * narrow pass with the codebooks inlined into the expression
    * (driver-trained, tiny: m×ksub×dsub doubles). Codebooks are
    * `IndexedSeq`s, not arrays, so expression equality/canonicalization
    * stays structural. CodegenFallback: per-call work is m·ksub·dsub
    * flops (~4k at m=4,ksub=16,d=64), dwarfing boxed-call overhead.
    */
  case class PqCodes(child: Expression,
      codebooks: IndexedSeq[IndexedSeq[IndexedSeq[Double]]])
      extends UnaryExpression
      with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {
    override def dataType: DataType =
      ArrayType(org.apache.spark.sql.types.IntegerType, containsNull = false)
    override def nullIntolerant: Boolean = true

    override def nullSafeEval(v: Any): Any = {
      val arr = v.asInstanceOf[ArrayData]
      val et = elemType(child.dataType)
      val m = codebooks.length
      val dsub = if (m == 0) 0 else codebooks(0)(0).length
      val codes = new Array[Int](m)
      var i = 0
      while (i < m) {
        val cb = codebooks(i)
        var best = 0; var bd = Double.MaxValue
        var c = 0
        while (c < cb.length) {
          val cent = cb(c)
          var dist = 0.0; var j = 0
          while (j < dsub) {
            val dd = toDouble(et, arr, i * dsub + j) - cent(j)
            dist += dd * dd; j += 1
          }
          if (dist < bd) { bd = dist; best = c }
          c += 1
        }
        codes(i) = best; i += 1
      }
      new org.apache.spark.sql.catalyst.util.GenericArrayData(codes)
    }

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  def pq_codes(vec: Column,
      codebooks: IndexedSeq[IndexedSeq[IndexedSeq[Double]]]): Column =
    ExpressionUtils.column(PqCodes(ExpressionUtils.expression(vec), codebooks))

  /** Johnson-Lindenstrauss sign-projection norm audit (q278): with the
    * ±1 grid inlined (driver-computed, 16×64 ints — the PqCodes
    * convention), emits struct(ysq_e8, xsq_e8) where
    *   y_e12(j)  = Σ_d floor(x_d·s(d,j)·1e12)   (exact long sum)
    *   y_j       = (double) y_e12(j) / 1e12
    *   ysq_e8    = Σ_j floor(y_j·y_j·1e8)
    *   xsq_e8    = Σ_d floor(x_d·x_d·1e8)
    * — every step is either an IEEE double op on identical inputs or
    * exact integer arithmetic, so a row-wise SQL replay (explode +
    * grid join + BIGINT sums) reproduces the longs BIT-EXACTLY on any
    * engine build (the round-8 floor(v·1eN)-BIGINT convention; no
    * decimal cast, whose double→decimal rounding is
    * implementation-shaded). Exactness envelope (ADVICE r10): with
    * dim ≤ 64, |y_j| ≤ 64·|x|max, so the floor terms stay exact longs
    * (y·1e12 and y²·1e8 both < 2^53) only while |x|max ≲ 1e2 —
    * NOT the 9e3 once claimed here (at |x|≈9e3, y²·1e8 ≈ 3e19
    * overflows Long and y·1e12 exceeds 2^53). Unit-ish embedding
    * floats (|x| ≤ ~1) sit far inside the true bound; reusing this
    * kernel on larger-magnitude vectors needs a rescale first.
    * CodegenFallback: per-call work is 16·64 + 2·64 flops, dwarfing
    * boxed-call overhead.
    */
  case class JlAudit(child: Expression, signs: IndexedSeq[IndexedSeq[Int]])
      extends UnaryExpression
      with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {
    override def dataType: DataType = org.apache.spark.sql.types.StructType(
      Seq(org.apache.spark.sql.types.StructField("ysq_e8",
            org.apache.spark.sql.types.LongType, nullable = false),
          org.apache.spark.sql.types.StructField("xsq_e8",
            org.apache.spark.sql.types.LongType, nullable = false)))
    override def nullIntolerant: Boolean = true
    // nullable regardless of the child: a width-mismatched or
    // null-element array yields null even from a non-null input
    override def nullable: Boolean = true

    override def nullSafeEval(v: Any): Any = {
      val arr = v.asInstanceOf[ArrayData]
      val et = elemType(child.dataType)
      val n = arr.numElements()
      // width mismatch or null element → null (zip_with semantics)
      if (signs.isEmpty || n != signs(0).length) return null
      val xs = new Array[Double](n)
      var xsqE8 = 0L
      var i = 0
      while (i < n) {
        if (arr.isNullAt(i)) return null
        val x = toDouble(et, arr, i)
        xs(i) = x
        xsqE8 += math.floor(x * x * 1e8).toLong
        i += 1
      }
      var ysqE8 = 0L
      var j = 0
      while (j < signs.length) {
        val row = signs(j)
        var yE12 = 0L
        i = 0
        while (i < n) {
          yE12 += math.floor(xs(i) * row(i) * 1e12).toLong
          i += 1
        }
        val y = yE12.toDouble / 1e12
        ysqE8 += math.floor(y * y * 1e8).toLong
        j += 1
      }
      new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        Array[Any](ysqE8, xsqE8))
    }

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  def jl_audit(vec: Column, signs: IndexedSeq[IndexedSeq[Int]]): Column =
    ExpressionUtils.column(JlAudit(ExpressionUtils.expression(vec), signs))

  /** |A ∩ B| over two arrays of DISTINCT longs (the shingle-hash
    * arrays: ShingleHashes emits a LinkedHashSet, so both sides are
    * duplicate-free and `size(array_intersect(a, b))` equals this
    * count exactly — the swap cannot change any result). Built for
    * the PPJoin exact-verify hot path (q125 — round 16, VERDICT r15
    * #6): array_intersect builds a hash set AND materializes the
    * intersection as a new array that `size` immediately discards;
    * this kernel copies both sides to primitive long[], sorts, and
    * merge-counts — no per-element boxing, no output allocation,
    * whole-stage-codegen friendly. O((n+m) log) vs O(n+m) expected
    * for the hash form, but the constant factor (no allocation, no
    * hashing, branch-predictable merge on ~10²-element arrays) is
    * what the A/B measures.
    */
  case class IntersectSize(left: Expression, right: Expression)
      extends BinaryExpression {
    override def dataType: DataType = org.apache.spark.sql.types.IntegerType
    override def nullIntolerant: Boolean = true
    override def nullable: Boolean = true

    override def nullSafeEval(l: Any, r: Any): Any = {
      val a = l.asInstanceOf[ArrayData].toLongArray()
      val b = r.asInstanceOf[ArrayData].toLongArray()
      java.util.Arrays.sort(a); java.util.Arrays.sort(b)
      var i = 0; var j = 0; var c = 0
      while (i < a.length && j < b.length) {
        if (a(i) < b(j)) i += 1
        else if (a(i) > b(j)) j += 1
        else { c += 1; i += 1; j += 1 }
      }
      c
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (a, b) => {
        val xs = ctx.freshName("xs"); val ys = ctx.freshName("ys")
        val i = ctx.freshName("i"); val j = ctx.freshName("j")
        val c = ctx.freshName("c")
        s"""
           |long[] $xs = $a.toLongArray();
           |long[] $ys = $b.toLongArray();
           |java.util.Arrays.sort($xs);
           |java.util.Arrays.sort($ys);
           |int $i = 0; int $j = 0; int $c = 0;
           |while ($i < $xs.length && $j < $ys.length) {
           |  if ($xs[$i] < $ys[$j]) { $i++; }
           |  else if ($xs[$i] > $ys[$j]) { $j++; }
           |  else { $c++; $i++; $j++; }
           |}
           |${ev.value} = $c;
         """.stripMargin
      })

    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): Expression =
      copy(left = newLeft, right = newRight)
  }

  /** Count of common elements between two duplicate-free long arrays. */
  def intersect_size(a: Column, b: Column): Column =
    ExpressionUtils.column(IntersectSize(
      ExpressionUtils.expression(a), ExpressionUtils.expression(b)))
}

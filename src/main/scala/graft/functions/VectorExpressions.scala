package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.objects.AssertNotNull
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** Custom Catalyst expressions for the hot vector kernels (SURVEY.md §7.3:
  * "custom Expression only for hot array math if benchmarks demand").
  *
  * The higher-order-function form (`aggregate(zip_with(a, b, *), 0d, +)`)
  * is semantically identical but evaluates interpreted — per element it
  * allocates lambda variables and boxes doubles. This expression is a
  * single fused multiply-accumulate loop and implements `doGenCode`, so it
  * inlines into whole-stage codegen next to the surrounding projection.
  * The summation order (left-to-right, seed 0.0) is EXACTLY the HOF's and
  * DuckDB's `list_sum(list_transform(...))` order — bit-identical results,
  * which the oracle gate depends on.
  */
case class DotProductD(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(DoubleType, _) => true
      case _ => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_dot expects two array<double> arguments, got " +
        s"${left.dataType.simpleString} and ${right.dataType.simpleString}")
  }
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_dot"

  // null on length mismatch (matching aggregate(zip_with(...)), where
  // zip_with null-pads the shorter side and the sum becomes NULL) —
  // so the expression is always nullable, even over non-null inputs.
  // A null ELEMENT likewise nulls the sum (x*NULL → NULL in the fold) —
  // checked only when the child schema admits element nulls, so the
  // internal hot paths keep the branch-free loop (r16; before this the
  // kernel read a null slot as garbage bytes on the public SQL surface).
  override def nullable: Boolean = true

  private lazy val mayHaveNulls: Boolean = (left.dataType, right.dataType) match {
    case (ArrayType(_, l), ArrayType(_, r)) => l || r
    case _ => true
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (y.numElements() != n) return null
    var acc = 0.0
    var i = 0
    if (mayHaveNulls) {
      // fused single pass: the null test is one predicted bit-check per
      // element (measured: a separate pre-pass cost the dot-dominated
      // kernels ~35-50%)
      while (i < n) {
        if (x.isNullAt(i) || y.isNullAt(i)) return null
        acc += x.getDouble(i) * y.getDouble(i)
        i += 1
      }
    } else {
      while (i < n) {
        acc += x.getDouble(i) * y.getDouble(i)
        i += 1
      }
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      val loop = if (mayHaveNulls)
        s"""for (int $i = 0; $i < $n; $i++) {
              if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }
              $acc += $a.getDouble($i) * $b.getDouble($i);
            }"""
      else
        s"""for (int $i = 0; $i < $n; $i++) {
              $acc += $a.getDouble($i) * $b.getDouble($i);
            }"""
      s"""
        int $n = $a.numElements();
        if ($b.numElements() != $n) {
          ${ev.isNull} = true;
        } else {
          double $acc = 0.0;
          $loop
          if (!${ev.isNull}) {
            ${ev.value} = $acc;
          }
        }
      """
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** Fused sign-LSH bucket id over `array<double>`: b deterministic
  * hyperplanes, hyperplane j's weight for dimension i =
  * ((i·(j+3)) mod 11)/10 − 0.5; bucket = Σ_j 2^j·[w_j·x ≥ 0].
  *
  * Equals `Similarity.signLshBucketHof` exactly (asserted in
  * ExtensionsSpec): per plane, terms x_i·w_ij accumulate left-to-right
  * from seed 0.0 — the HOF `aggregate(zip_with(...))` order and the
  * oracle's `list_sum(list_transform(...))` order, bit for bit. The HOF
  * form walks the array once per plane through interpreted lambdas
  * (8 passes for the default 8 bits); this kernel is one pass total,
  * inlined into whole-stage codegen. */
case class SignLshBucket(child: Expression, bits: Int)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
  require(bits >= 1 && bits <= 62, "bits must be in [1, 62]")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_sign_lsh expects array<double>, got ${other.simpleString}")
  }
  override def dataType: DataType = org.apache.spark.sql.types.LongType
  override def prettyName: String = "graft_sign_lsh"

  override def nullSafeEval(a: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    SignLshBucket.bucket(x, bits)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, a =>
      s"graft.functions.SignLshBucket.bucket($a, $bits)")

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

object SignLshBucket {
  /** One pass over the vector, all planes accumulated together. Term
    * order per plane is identical to the per-plane HOF fold. */
  def bucket(x: ArrayData, bits: Int): Long = {
    val n = x.numElements()
    val acc = new Array[Double](bits)
    var i = 0
    while (i < n) {
      val v = x.getDouble(i)
      var j = 0
      while (j < bits) {
        acc(j) += v * (((i * (j + 3)) % 11) / 10.0 - 0.5)
        j += 1
      }
      i += 1
    }
    var b = 0L
    var j = 0
    while (j < bits) {
      if (acc(j) >= 0.0) b |= (1L << j)
      j += 1
    }
    b
  }
}

/** Fused nearest-centroid argmin over `(array<double>,
  * array<struct<cell: long, cv: array<double>>>)` — the per-row inner
  * loop of the ENTIRE ANN/clustering family (`kmeansFit` assignment,
  * `ivfTopK`/`ivfPqSearch` coarse cells, `semanticDedup` partitioning,
  * the streaming incremental index, PQ sub-code assignment): for each
  * centroid struct in ARRAY ORDER, dist = (‖p‖² − 2·p·c) + ‖c‖² with
  * strict `<` (ties keep the earlier = lowest cell, the sorted-array
  * contract), returning the winning cell id (−1 on an empty list, the
  * HOF fold's init — and a length-mismatched centroid is SKIPPED,
  * matching zip_with's null-padded dot folding to a null dist that
  * loses the IF).
  *
  * Bit-identical to the `aggregate(transform(cents, …))` HOF fold it
  * replaces (asserted in Round15OpsSpec against the retained HOF form):
  * ‖p‖² and each dot accumulate left-to-right from 0.0 — the graft_dot
  * order — and the distance association `(pn − 2·d) + dcc` is preserved
  * verbatim. The HOF form allocates a named_struct per centroid and
  * boxes every lambda variable, k·(2 array passes) per row interpreted;
  * this kernel is one tight primitive loop per row inlined into
  * whole-stage codegen — the difference between an interpreted and a
  * fused inner loop on the operator family's 100 TB hot path. */
case class NearestCell(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(DoubleType, _),
          ArrayType(org.apache.spark.sql.types.StructType(fields), _))
        if fields.length == 2 &&
          fields(0).dataType == org.apache.spark.sql.types.LongType &&
          fields(1).dataType.isInstanceOf[ArrayType] &&
          fields(1).dataType.asInstanceOf[ArrayType].elementType == DoubleType =>
      TypeCheckResult.TypeCheckSuccess
    case (l, r) => TypeCheckResult.TypeCheckFailure(
      s"graft_nearest_cell expects (array<double>, array<struct<cell: bigint, " +
        s"cv: array<double>>>), got ${l.simpleString} and ${r.simpleString}")
  }
  override def dataType: DataType = org.apache.spark.sql.types.LongType
  override def prettyName: String = "graft_nearest_cell"

  // The function is registered as PUBLIC SQL (user SQL can feed arrays
  // with null entries, not just the internally-built non-null frames), so
  // the kernel must mirror the HOF's null-skip semantics. The per-element
  // checks are compiled in only when the child SCHEMA admits nulls — the
  // internal hot paths keep the branch-free loop.
  private lazy val mayHaveNulls: Boolean = (left.dataType, right.dataType) match {
    case (ArrayType(_, pNulls),
          ArrayType(st: org.apache.spark.sql.types.StructType, centNulls)) =>
      pNulls || centNulls || st(0).nullable || st(1).nullable ||
        st(1).dataType.asInstanceOf[ArrayType].containsNull
    case _ => true
  }

  override def nullSafeEval(a: Any, b: Any): Any =
    NearestCell.nearest(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData],
      mayHaveNulls)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.functions.NearestCell.nearest($a, $b, $mayHaveNulls)")

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

object NearestCell {
  /** One row's argmin: ‖p‖² once, then per centroid one fused
    * dot+norm pass. FP op order matches the HOF fold exactly. With
    * `checkNulls` (schema admits nulls): a null element in `p` nulls
    * every HOF distance → return the fold init −1; a null centroid
    * struct, null cell id, null cv, or null cv element skips that
    * centroid, exactly as the HOF folds those entries to a null dist
    * that loses the IF. The checks fuse into the main loops (one
    * predicted bit-test per element — a separate pre-pass measured
    * ~50% slower on the assignment probe). */
  def nearest(p: ArrayData, cents: ArrayData, checkNulls: Boolean): Long =
    if (checkNulls) nearestChecked(p, cents) else nearestFast(p, cents)

  private def nearestFast(p: ArrayData, cents: ArrayData): Long = {
    val n = p.numElements()
    var pn = 0.0
    var i = 0
    while (i < n) { val v = p.getDouble(i); pn += v * v; i += 1 }
    var bestCell = -1L
    var bestDist = Double.PositiveInfinity
    var c = 0
    val k = cents.numElements()
    while (c < k) {
      val s = cents.getStruct(c, 2)
      val cv = s.getArray(1)
      if (cv.numElements() == n) {
        var d = 0.0
        var dcc = 0.0
        var j = 0
        while (j < n) {
          val x = cv.getDouble(j)
          d += p.getDouble(j) * x
          dcc += x * x
          j += 1
        }
        val dist = (pn - 2.0 * d) + dcc
        if (dist < bestDist) { bestDist = dist; bestCell = s.getLong(0) }
      }
      c += 1
    }
    bestCell
  }

  private def nearestChecked(p: ArrayData, cents: ArrayData): Long = {
    val n = p.numElements()
    var pn = 0.0
    var i = 0
    while (i < n) {
      if (p.isNullAt(i)) return -1L
      val v = p.getDouble(i); pn += v * v; i += 1
    }
    var bestCell = -1L
    var bestDist = Double.PositiveInfinity
    var c = 0
    val k = cents.numElements()
    while (c < k) {
      if (!cents.isNullAt(c)) {
        val s = cents.getStruct(c, 2)
        if (!s.isNullAt(0) && !s.isNullAt(1)) {
          val cv = s.getArray(1)
          if (cv.numElements() == n) {
            var d = 0.0
            var dcc = 0.0
            var j = 0
            var ok = true
            while (ok && j < n) {
              if (cv.isNullAt(j)) ok = false
              else {
                val x = cv.getDouble(j)
                d += p.getDouble(j) * x
                dcc += x * x
                j += 1
              }
            }
            if (ok) {
              val dist = (pn - 2.0 * d) + dcc
              if (dist < bestDist) { bestDist = dist; bestCell = s.getLong(0) }
            }
          }
        }
      }
      c += 1
    }
    bestCell
  }
}

/** Fused max-cosine over a broadcast vector set — the per-row inner
  * loop of SEMANTIC DECONTAMINATION (`Similarity.semanticDecontaminate`:
  * corpus rows × |benchmark set| × d — at 100 TB with a 10k-item eval
  * suite this is the family's dominant term). For each benchmark vector
  * in ARRAY ORDER: cos = p·b / (‖p‖·‖b‖), folded with Spark's
  * `greatest` double ordering (java.lang.Double.compare — NaN largest,
  * −0.0 < 0.0) from the HOF's −1.0 seed; a length-mismatched benchmark
  * vector contributes null in the HOF (`greatest` skips nulls) and is
  * skipped here. Bit-identical to the retained HOF fold — asserted in
  * Round15OpsSpec, and the x3_semantic_decontaminate oracle re-proves
  * it end-to-end. */
case class MaxCosine(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(DoubleType, _), ArrayType(ArrayType(DoubleType, _), _)) =>
      TypeCheckResult.TypeCheckSuccess
    case (l, r) => TypeCheckResult.TypeCheckFailure(
      s"graft_max_cosine expects (array<double>, array<array<double>>), " +
        s"got ${l.simpleString} and ${r.simpleString}")
  }
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_max_cosine"

  // Public-SQL hardening, mirroring NearestCell: per-element null checks
  // compile in only when the child schema admits nulls.
  private lazy val mayHaveNulls: Boolean = (left.dataType, right.dataType) match {
    case (ArrayType(_, pNulls), ArrayType(ArrayType(_, elemNulls), vecNulls)) =>
      pNulls || vecNulls || elemNulls
    case _ => true
  }
  // Divide-by-zero policy follows the session's ANSI mode so the kernel
  // stays bit-identical to the retained HOF fold under BOTH configs:
  // ANSI on (Spark 4 default) → a zero-norm vector throws, exactly like
  // the HOF's ANSI division error; ANSI off → the HOF's x/0 yields null
  // and `greatest` skips it, so the kernel skips the vector. A STRICT
  // val (r17): captured at expression CONSTRUCTION on the driver — the
  // same point the HOF's Divide binds its own ANSI flag — so the
  // interpreted eval path sees the planning-time value even when first
  // forced on an executor after deserialization (a lazy val there would
  // read the executor's SQLConf instead).
  private val ansiThrow: Boolean =
    org.apache.spark.sql.internal.SQLConf.get.ansiEnabled

  override def nullSafeEval(a: Any, b: Any): Any =
    MaxCosine.maxCos(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData],
      mayHaveNulls, ansiThrow)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.functions.MaxCosine.maxCos($a, $b, $mayHaveNulls, $ansiThrow)")

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

object MaxCosine {
  /** ‖p‖ once, then per benchmark vector one fused dot+norm pass; the
    * max uses Double.compare — Spark's `greatest` ordering. A zero-norm
    * vector throws under ANSI (`ansiThrow`, the Spark 4 default —
    * matching the HOF form's ANSI divide-by-zero: a zero embedding is a
    * data bug, not a cosine) and is SKIPPED with ANSI off (the HOF's x/0
    * folds to null there and `greatest` skips it). With `checkNulls`: a
    * null element in `p` nulls every HOF cosine → return the −1.0 seed;
    * a null benchmark vector or null element skips that vector — checks
    * fused into the main loops, same pattern as [[NearestCell]]. */
  def maxCos(p: ArrayData, bvs: ArrayData, checkNulls: Boolean,
             ansiThrow: Boolean): Double =
    if (checkNulls) maxCosChecked(p, bvs, ansiThrow)
    else maxCosFast(p, bvs, ansiThrow)

  private def zeroNorm(): Unit = throw new ArithmeticException(
    "graft_max_cosine: zero-norm vector — cosine undefined " +
      "(the HOF form's ANSI divide-by-zero)")

  private def maxCosFast(p: ArrayData, bvs: ArrayData, ansiThrow: Boolean): Double = {
    val n = p.numElements()
    var pn2 = 0.0
    var i = 0
    while (i < n) { val v = p.getDouble(i); pn2 += v * v; i += 1 }
    val pn = java.lang.Math.sqrt(pn2)
    var acc = -1.0
    var c = 0
    val k = bvs.numElements()
    while (c < k) {
      val bv = bvs.getArray(c)
      if (bv.numElements() == n) {
        var d = 0.0
        var bb = 0.0
        var j = 0
        while (j < n) {
          val x = bv.getDouble(j)
          d += p.getDouble(j) * x
          bb += x * x
          j += 1
        }
        val den = pn * java.lang.Math.sqrt(bb)
        if (den == 0.0) { if (ansiThrow) zeroNorm() }
        else {
          val cos = d / den
          if (java.lang.Double.compare(cos, acc) > 0) acc = cos
        }
      }
      c += 1
    }
    acc
  }

  private def maxCosChecked(p: ArrayData, bvs: ArrayData, ansiThrow: Boolean): Double = {
    val n = p.numElements()
    var pn2 = 0.0
    var i = 0
    while (i < n) {
      if (p.isNullAt(i)) return -1.0
      val v = p.getDouble(i); pn2 += v * v; i += 1
    }
    val pn = java.lang.Math.sqrt(pn2)
    var acc = -1.0
    var c = 0
    val k = bvs.numElements()
    while (c < k) {
      if (!bvs.isNullAt(c)) {
        val bv = bvs.getArray(c)
        if (bv.numElements() == n) {
          var d = 0.0
          var bb = 0.0
          var j = 0
          var ok = true
          while (ok && j < n) {
            if (bv.isNullAt(j)) ok = false
            else {
              val x = bv.getDouble(j)
              d += p.getDouble(j) * x
              bb += x * x
              j += 1
            }
          }
          if (ok) {
            val den = pn * java.lang.Math.sqrt(bb)
            if (den == 0.0) { if (ansiThrow) zeroNorm() }
            else {
              val cos = d / den
              if (java.lang.Double.compare(cos, acc) > 0) acc = cos
            }
          }
        }
      }
      c += 1
    }
    acc
  }
}

/** Fused squared L2 norm — what [[NormRewrite]] turns `graft_dot(a, a)`
  * into: one array traversal instead of two bindings of the same child.
  * Same left-to-right summation as DotProductD → bit-identical result. */
case class SquaredNormD(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_norm2 expects array<double>, got ${other.simpleString}")
  }
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_norm2"

  // graft_dot(a, a) nulls on a null element (r16) — the rewrite target
  // must agree, or NormRewrite would change results
  override def nullable: Boolean = true
  private lazy val mayHaveNulls: Boolean = child.dataType match {
    case ArrayType(_, n) => n
    case _ => true
  }

  override def nullSafeEval(a: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val n = x.numElements()
    var acc = 0.0
    var i = 0
    if (mayHaveNulls) {
      while (i < n) {
        if (x.isNullAt(i)) return null
        val v = x.getDouble(i); acc += v * v; i += 1
      }
    } else {
      while (i < n) {
        val v = x.getDouble(i); acc += v * v; i += 1
      }
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      val v = ctx.freshName("v")
      val loop = if (mayHaveNulls)
        s"""for (int $i = 0; $i < $a.numElements(); $i++) {
              if ($a.isNullAt($i)) { ${ev.isNull} = true; break; }
              double $v = $a.getDouble($i);
              $acc += $v * $v;
            }"""
      else
        s"""for (int $i = 0; $i < $a.numElements(); $i++) {
              double $v = $a.getDouble($i);
              $acc += $v * $v;
            }"""
      s"""
        double $acc = 0.0;
        $loop
        if (!${ev.isNull}) {
          ${ev.value} = $acc;
        }
      """
    })

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Schema-tightening density assertion (r16): validates ONCE that an
  * array has no null elements and re-declares its type with
  * `containsNull = false` — the boundary contract that lets every
  * downstream vector kernel ([[NearestCell]], [[MaxCosine]],
  * [[DotProductD]], [[SquaredNormD]]) compile its branch-free loop
  * instead of a per-element null check (measured: schema-blind checks
  * cost the 500k-row assignment probe ~50%, because parquet list
  * elements are OPTIONAL so every internal frame's schema admits nulls
  * the data never contains). A null element THROWS — for the engine's
  * internal ops a sparse vector is a data bug, same posture as the
  * zero-norm cosine — while the public SQL kernels keep their HOF
  * null-skip semantics over un-tightened schemas. Registered as
  * `graft_dense` composed under `AssertNotNull` (array-level null is
  * equally a contract violation). */
case class DenseElements(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case _: ArrayType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_dense expects an array, got ${other.simpleString}")
  }
  override def dataType: DataType = child.dataType match {
    case ArrayType(et, _) => ArrayType(et, containsNull = false)
    case other => other
  }
  override def prettyName: String = "graft_dense"

  override def nullSafeEval(a: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    DenseElements.check(x)
    x
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => s"""
      graft.functions.DenseElements.check($a);
      ${ev.value} = $a;
    """)

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

object DenseElements {
  def check(a: ArrayData): Unit = {
    var i = 0
    val n = a.numElements()
    while (i < n) {
      if (a.isNullAt(i)) throw new IllegalArgumentException(
        s"graft_dense: null element at position $i — engine vector " +
          "columns are dense by contract (a sparse vector is a data bug)")
      i += 1
    }
  }
}

/** Optimizer rule: `graft_dot(a, a)` → `graft_norm2(a)` whenever both sides
  * are semantically the same expression — the engine's own rewrite layered
  * on Catalyst, numerically a no-op (identical fold order). */
object NormRewrite extends org.apache.spark.sql.catalyst.rules.Rule[
    org.apache.spark.sql.catalyst.plans.logical.LogicalPlan] {
  override def apply(plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan) =
    plan.transformAllExpressions {
      case DotProductD(a, b) if a.semanticEquals(b) => SquaredNormD(a)
    }
}

/** The engine's `graft_*` SQL functions, callable from SQL and `expr(...)`
  * once installed. Both install paths — `register` on a live session and
  * the `GraftExtensions` hook at session build — read the one `table`, so
  * they install the same functions and the same optimizer rule. */
object GraftFunctions {
  /** One SQL function: name, implementing expression class, builder. */
  final case class Fn(name: String, cls: Class[_], build: Seq[Expression] => Expression)

  private def intArg(e: Expression): Int = e.eval().asInstanceOf[Int]
  private def longArg(e: Expression): Long = e.eval().asInstanceOf[Number].longValue()

  val table: Seq[Fn] = Seq(
    Fn("graft_dot", classOf[DotProductD], e => DotProductD(e(0), e(1))),
    Fn("graft_norm2", classOf[SquaredNormD], e => SquaredNormD(e(0))),
    // density contract (r16): element validation + containsNull=false,
    // under an array-level AssertNotNull; graft_nn = the scalar form
    Fn("graft_dense", classOf[DenseElements], e => AssertNotNull(DenseElements(e(0)))),
    Fn("graft_nn", classOf[AssertNotNull], e => AssertNotNull(e(0))),
    Fn("graft_tokens", classOf[TokenizeWords], e => TokenizeWords(e(0))),
    Fn("graft_shingles", classOf[WordShingles], e => WordShingles(e(0), intArg(e(1)))),
    Fn("graft_text_stats", classOf[TextStatsExpr], e => TextStatsExpr(e(0))),
    Fn("graft_sign_lsh", classOf[SignLshBucket], e => SignLshBucket(e(0), intArg(e(1)))),
    Fn("graft_nfc", classOf[NfcNormalize], e => NfcNormalize(e(0))),
    Fn("graft_strip_accents", classOf[StripAccents], e => StripAccents(e(0))),
    Fn("graft_cdc_cuts", classOf[CdcCuts],
      e => CdcCuts(e(0), intArg(e(1)), longArg(e(2)), longArg(e(3)))),
    Fn("graft_nearest_cell", classOf[NearestCell], e => NearestCell(e(0), e(1))),
    Fn("graft_max_cosine", classOf[MaxCosine], e => MaxCosine(e(0), e(1))))

  /** Installs `table` and `NormRewrite` into `spark`; idempotent. Repeated
    * calls (one per operator invocation) skip the re-register, which would
    * otherwise warn "replaced a previously registered function" on every
    * query. Every name is checked, so a session holding an older, shorter
    * table still gets the newer functions. */
  def register(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    if (!table.forall(f => registry.functionExists(FunctionIdentifier(f.name))))
      table.foreach(f => registry.createOrReplaceTempFunction(f.name, f.build, "scala_udf"))
    if (!spark.experimental.extraOptimizations.contains(NormRewrite)) {
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ NormRewrite
    }
  }
}

/** `SparkSessionExtensions` hook — the deployment-grade registration path:
  * `spark.sql.extensions=graft.functions.GraftExtensions` (or
  * `.withExtensions(new GraftExtensions)`) injects `GraftFunctions.table`
  * and `NormRewrite` into every session at build time, the place where
  * injected rules / planner strategies would also live. */
class GraftExtensions extends (org.apache.spark.sql.SparkSessionExtensions => Unit) {
  override def apply(ext: org.apache.spark.sql.SparkSessionExtensions): Unit = {
    GraftFunctions.table.foreach { f =>
      ext.injectFunction((FunctionIdentifier(f.name),
        new ExpressionInfo(f.cls.getName, f.name), f.build))
    }
    ext.injectOptimizerRule(_ => NormRewrite)
  }
}

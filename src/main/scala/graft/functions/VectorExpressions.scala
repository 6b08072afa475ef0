package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Native Catalyst expressions for embedding math.
  *
  * Rationale (SURVEY §4.3, measured): the composable alternative —
  * `aggregate(zip_with(u, v, (a,b) -> a*b), 0D, (acc,x) -> acc+x)` — is a
  * higher-order function chain that is interpreted (CodegenFallback) and
  * allocates an intermediate array per row. For ANN scoring the dot
  * product runs once per (query, corpus-row) pair, so it must be a tight
  * codegen'd loop over the unsafe array data: no allocation, no lambda
  * dispatch. Accumulation order is sequential (index 0..n-1), matching
  * the reference oracle's arithmetic exactly.
  */
abstract class VectorBinaryExpression extends BinaryExpression {
  override def dataType: DataType = DoubleType

  /** A null ELEMENT null-propagates to the whole result — identical to the
    * `aggregate(zip_with(...))` HOF formulation, where null·x and null+acc
    * are null. So the result is nullable whenever either input array may
    * contain nulls, not only when an input itself may be null.
    */
  override def nullable: Boolean =
    left.nullable || right.nullable || leftContainsNull || rightContainsNull

  protected def leftIsFloat: Boolean = left.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }
  protected def rightIsFloat: Boolean = right.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }
  protected def leftContainsNull: Boolean = left.dataType match {
    case ArrayType(_, cn) => cn
    case _ => false
  }
  protected def rightContainsNull: Boolean = right.dataType match {
    case ArrayType(_, cn) => cn
    case _ => false
  }
  /** Per-element null guard for codegen, empty when the schema rules nulls
    * out (the guard would be dead code inside the hot loop).
    */
  protected final def elemNullCheck(a: String, b: String, i: String, ev: ExprCode): String =
    if (leftContainsNull || rightContainsNull)
      s"""if (${if (leftContainsNull) s"$a.isNullAt($i)" else "false"} ||
         |    ${if (rightContainsNull) s"$b.isNullAt($i)" else "false"}) {
         |  ${ev.isNull} = true; break;
         |}""".stripMargin
    else ""

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    (left.dataType, right.dataType) match {
      case (ArrayType(a, _), ArrayType(b, _))
        if (a == FloatType || a == DoubleType) && (b == FloatType || b == DoubleType) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case _ =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"$prettyName expects two float/double arrays, got " +
            s"${left.dataType.simpleString} / ${right.dataType.simpleString}")
    }
  }

  @inline protected final def get(a: ArrayData, i: Int, isFloat: Boolean): Double =
    if (isFloat) a.getFloat(i).toDouble else a.getDouble(i)
}

/** dot(u, v) = Σ u_i · v_i over min(len) elements. */
case class VectorDot(left: Expression, right: Expression) extends VectorBinaryExpression {
  override def prettyName: String = "vector_dot"

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]; val b = r.asInstanceOf[ArrayData]
    val (lf, rf) = (leftIsFloat, rightIsFloat)
    val checkNulls = leftContainsNull || rightContainsNull
    val n = math.min(a.numElements(), b.numElements())
    var s = 0.0; var i = 0
    while (i < n) {
      if (checkNulls && (a.isNullAt(i) || b.isNullAt(i))) return null
      s += get(a, i, lf) * get(b, i, rf); i += 1
    }
    s
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val lGet = if (leftIsFloat) "getFloat" else "getDouble"
    val rGet = if (rightIsFloat) "getFloat" else "getDouble"
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i"); val n = ctx.freshName("n"); val s = ctx.freshName("s")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $s = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  ${elemNullCheck(a, b, i, ev)}
         |  $s += (double) $a.$lGet($i) * (double) $b.$rGet($i);
         |}
         |if (!${ev.isNull}) { ${ev.value} = $s; }
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression): VectorDot =
    copy(left = l, right = r)
}

/** cosine(u, v) in ONE pass: Σuv / (√Σuu · √Σvv); 0.0 for zero vectors.
  * Same formula shape (and therefore bitwise-identical doubles) as the
  * dot-product composition used by the DuckDB oracles.
  */
case class VectorCosine(left: Expression, right: Expression) extends VectorBinaryExpression {
  override def prettyName: String = "vector_cosine"

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]; val b = r.asInstanceOf[ArrayData]
    val (lf, rf) = (leftIsFloat, rightIsFloat)
    val checkNulls = leftContainsNull || rightContainsNull
    val n = math.min(a.numElements(), b.numElements())
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < n) {
      if (checkNulls && (a.isNullAt(i) || b.isNullAt(i))) return null
      val x = get(a, i, lf); val y = get(b, i, rf)
      dot += x * y; na += x * x; nb += y * y; i += 1
    }
    if (na == 0.0 || nb == 0.0) 0.0 else dot / (math.sqrt(na) * math.sqrt(nb))
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val lGet = if (leftIsFloat) "getFloat" else "getDouble"
    val rGet = if (rightIsFloat) "getFloat" else "getDouble"
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i"); val n = ctx.freshName("n")
      val dot = ctx.freshName("dot"); val na = ctx.freshName("na"); val nb = ctx.freshName("nb")
      val x = ctx.freshName("x"); val y = ctx.freshName("y")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $dot = 0.0; double $na = 0.0; double $nb = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  ${elemNullCheck(a, b, i, ev)}
         |  double $x = (double) $a.$lGet($i);
         |  double $y = (double) $b.$rGet($i);
         |  $dot += $x * $y; $na += $x * $x; $nb += $y * $y;
         |}
         |if (!${ev.isNull}) {
         |  ${ev.value} = ($na == 0.0 || $nb == 0.0) ? 0.0
         |    : $dot / (java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb));
         |}
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression): VectorCosine =
    copy(left = l, right = r)
}

/** argmax cell over a centroid MATRIX held in the expression as one
  * reference object — the scalable form of `IvfIndex.nearestCell`.
  *
  * The inline-literal argmax dies twice as centroids grow: the Column
  * tree itself (one literal array per centroid) hits Janino/codegen
  * size cliffs near ~80 cells, and the broadcast-join fallback streams
  * a |vecs| × |cells| joined ROW set through a partial aggregate — at
  * 200 k × 1 600 that is 320 M rows of row-iterator overhead for what
  * is arithmetically ~20 GFLOP of fused multiply-add (measured 78 s
  * join vs ~2 s in-loop, a12 at f=100 in the scaling smoke deleted after
  * f1da5bb: `git show f1da5bb:src/main/scala/graft/tools/`). This expression keeps
  * the flat argmax as ONE tight generated loop over a `double[]`
  * (dim-major) reference object: no literals in the tree, no join, no
  * per-pair row.
  *
  * Bit-identical to the inline path on null-free input: score =
  * dot(v, c) − ‖c‖²/2 accumulated in index order, ties → the HIGHEST
  * cell (array_max / max_by struct order; `Double.compare` also ranks
  * NaN greatest like Spark's double ordering). NULL vector or NULL
  * ELEMENT → NULL — the sane reading of "no score"; note the inline
  * nearestCell path instead falls through array_max's struct compare
  * on all-NULL score fields and returns the highest cell, so a corpus
  * whose embedding arrays can contain null ELEMENTS is outside the
  * bit-identity contract (filter such rows first; every corpus in this
  * repo schema-forbids them).
  */
case class NearestCentroid(child: Expression, centroids: Array[Array[Double]])
  extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
  require(centroids.nonEmpty, "nearest_centroid: need at least one centroid")
  require(centroids.forall(_.length == centroids.head.length),
    "nearest_centroid: centroids must share one dimensionality")

  override def prettyName: String = "nearest_centroid"
  override def dataType: DataType = IntegerType
  override def nullable: Boolean = child.nullable || childContainsNull

  private def childIsFloat: Boolean = child.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }
  private def childContainsNull: Boolean = child.dataType match {
    case ArrayType(_, cn) => cn
    case _ => false
  }

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(t, _) if t == FloatType || t == DoubleType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"$prettyName expects a float/double array, got ${other.simpleString}")
    }

  private val dim: Int = centroids.head.length
  // dim-major flat matrix + per-centroid ‖c‖²/2, shared by eval and codegen
  private lazy val flat: Array[Double] = {
    val f = new Array[Double](centroids.length * dim)
    var c = 0
    while (c < centroids.length) {
      System.arraycopy(centroids(c), 0, f, c * dim, dim); c += 1
    }
    f
  }
  private lazy val halfNorms: Array[Double] =
    centroids.map(c => c.map(x => x * x).sum / 2.0)

  override def nullSafeEval(input: Any): Any = {
    val a = input.asInstanceOf[ArrayData]
    val isF = childIsFloat; val checkNulls = childContainsNull
    val n = math.min(a.numElements(), dim)
    var best = -1; var bestS = 0.0
    var c = 0
    while (c < centroids.length) {
      var s = 0.0; var i = 0; val off = c * dim
      while (i < n) {
        if (checkNulls && a.isNullAt(i)) return null
        s += flat(off + i) * (if (isF) a.getFloat(i).toDouble else a.getDouble(i))
        i += 1
      }
      s -= halfNorms(c)
      if (best < 0 || java.lang.Double.compare(s, bestS) >= 0) { bestS = s; best = c }
      c += 1
    }
    best
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val get = if (childIsFloat) "getFloat" else "getDouble"
    val fRef = ctx.addReferenceObj("ncFlat", flat, "double[]")
    val hRef = ctx.addReferenceObj("ncHalf", halfNorms, "double[]")
    nullSafeCodeGen(ctx, ev, a => {
      val n = ctx.freshName("n"); val c = ctx.freshName("c"); val i = ctx.freshName("i")
      val s = ctx.freshName("s"); val off = ctx.freshName("off")
      val best = ctx.freshName("best"); val bestS = ctx.freshName("bestS")
      val nullGuard =
        if (childContainsNull)
          s"if ($a.isNullAt($i)) { ${ev.isNull} = true; break; }"
        else ""
      val outerBreak =
        if (childContainsNull) s"if (${ev.isNull}) break;" else ""
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $dim);
         |int $best = -1; double $bestS = 0.0;
         |for (int $c = 0; $c < ${centroids.length}; $c++) {
         |  double $s = 0.0; int $off = $c * $dim;
         |  for (int $i = 0; $i < $n; $i++) {
         |    $nullGuard
         |    $s += $fRef[$off + $i] * (double) $a.$get($i);
         |  }
         |  $outerBreak
         |  $s -= $hRef[$c];
         |  if ($best < 0 || java.lang.Double.compare($s, $bestS) >= 0) {
         |    $bestS = $s; $best = $c;
         |  }
         |}
         |if (!${ev.isNull}) { ${ev.value} = $best; }
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): NearestCentroid =
    copy(child = newChild)
}

/** Dense row-vector × literal-matrix projection — out[j] = scale ·
  * Σ_i matrix(j)(i) · v[i], the execution kernel behind
  * `Similarity.randomProject` (Johnson–Lindenstrauss sign projection)
  * and any other fixed linear map small enough to ship as a plan
  * constant (PCA components, a distilled linear adapter). Follows
  * [[NearestCentroid]]'s design: the matrix rides the expression as ONE
  * dim-major `double[]` reference object (no literal-per-row Column
  * tree, no join), the inner loop is a single generated fused
  * multiply-add pass. The i-fold is strictly ascending in both the
  * interpreted and generated paths, so results are bit-identical across
  * engines that fold ascending (the c02 contract). NULL vector, NULL
  * element, or a row whose length differs from the matrix dimension →
  * NULL row (drift must surface, never silently truncate).
  */
case class MatrixProject(child: Expression, matrix: Array[Array[Double]],
                         scale: Double)
  extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
  require(matrix.nonEmpty, "matrix_project: need at least one output row")
  require(matrix.forall(_.length == matrix.head.length),
    "matrix_project: matrix rows must share one dimensionality")

  override def prettyName: String = "matrix_project"
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  // always nullable: a dimension-drifted row projects to NULL (see
  // nullSafeEval) and drift is a data property the schema can't rule out
  override def nullable: Boolean = true

  private def childIsFloat: Boolean = child.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }
  private def childContainsNull: Boolean = child.dataType match {
    case ArrayType(_, cn) => cn
    case _ => false
  }

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(t, _) if t == FloatType || t == DoubleType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"$prettyName expects a float/double array, got ${other.simpleString}")
    }

  private val inDim: Int = matrix.head.length
  private val outDim: Int = matrix.length
  private lazy val flat: Array[Double] = {
    val f = new Array[Double](outDim * inDim)
    var j = 0
    while (j < outDim) { System.arraycopy(matrix(j), 0, f, j * inDim, inDim); j += 1 }
    f
  }

  override def nullSafeEval(input: Any): Any = {
    val a = input.asInstanceOf[ArrayData]
    // dimension drift → NULL row, never a silent truncation: a vector
    // shorter/longer than the matrix would get a plausible-looking but
    // wrong projection that corrupts any index built on the projected
    // key (r14 review). Gate with Validate.vectorDim to find the rows.
    if (a.numElements() != inDim) return null
    val isF = childIsFloat; val checkNulls = childContainsNull
    val out = new Array[Double](outDim)
    var j = 0
    while (j < outDim) {
      var s = 0.0; var i = 0; val off = j * inDim
      while (i < inDim) {
        if (checkNulls && a.isNullAt(i)) return null
        s += flat(off + i) * (if (isF) a.getFloat(i).toDouble else a.getDouble(i))
        i += 1
      }
      out(j) = s * scale
      j += 1
    }
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray(out)
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val get = if (childIsFloat) "getFloat" else "getDouble"
    val fRef = ctx.addReferenceObj("mpFlat", flat, "double[]")
    nullSafeCodeGen(ctx, ev, a => {
      val j = ctx.freshName("j"); val i = ctx.freshName("i")
      val s = ctx.freshName("s"); val off = ctx.freshName("off")
      val out = ctx.freshName("out")
      val nullGuard =
        if (childContainsNull)
          s"if ($a.isNullAt($i)) { ${ev.isNull} = true; break; }"
        else ""
      val outerBreak =
        if (childContainsNull) s"if (${ev.isNull}) break;" else ""
      // dimension drift → NULL, never silent truncation (see eval)
      s"""
         |if ($a.numElements() != $inDim) {
         |  ${ev.isNull} = true;
         |} else {
         |  double[] $out = new double[$outDim];
         |  for (int $j = 0; $j < $outDim; $j++) {
         |    double $s = 0.0; int $off = $j * $inDim;
         |    for (int $i = 0; $i < $inDim; $i++) {
         |      $nullGuard
         |      $s += $fRef[$off + $i] * (double) $a.$get($i);
         |    }
         |    $outerBreak
         |    $out[$j] = $s * $scale;
         |  }
         |  if (!${ev.isNull}) {
         |    ${ev.value} = org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
         |      .fromPrimitiveArray($out);
         |  }
         |}
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): MatrixProject =
    copy(child = newChild)
}

/** Symmetric per-vector int8 quantization as ONE generated loop pair —
  * the native form of `Similarity.quantizeInt8`'s HOF chain
  * (`aggregate` for the scale pass + `transform` for the codes pass),
  * which is CodegenFallback and therefore disables whole-stage codegen
  * for the entire corpus-sized projection that derives the int8
  * sidecar. That interpreted stage is what put a11_ivf_int8_rerank on
  * per-JVM C2-JIT shelves (r16 verdict ask #2 — graft.tools' a11 probe
  * main, deleted after c5df852
  * (`git show c5df852:src/main/scala/graft/tools/`), measured every
  * fresh JVM descending 7 s → 2 s over 4-6 runs with wsc=0 in the
  * plan; the bench's warmup+3 samples land mid-descent, reproducing
  * the recorded 1.9-4.2 s bimodality).
  *
  * Bit-identical arithmetic to the HOF chain on null-free input:
  * scale = (ascending fold of max(acc, |x|), starting 0.0) / 127.0;
  * codes(i) = floor(x/scale + 0.5) as int (the a04 portable rounding);
  * zero scale → all-zero codes. Output struct(scale double,
  * codes array<int>). Divergence from the HOF chain, documented: a
  * NULL vector or a NULL ELEMENT yields NULL (the HOF chain produced
  * struct(0.0, NULL) / null code elements) — every corpus in this repo
  * schema-forbids both.
  */
case class QuantizeInt8(child: Expression)
  extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def prettyName: String = "quantize_int8"
  override def dataType: DataType = StructType(Seq(
    StructField("scale", DoubleType, nullable = false),
    StructField("codes", ArrayType(IntegerType, containsNull = false), nullable = false)))
  override def nullable: Boolean = child.nullable || childContainsNull

  private def childIsFloat: Boolean = child.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }
  private def childContainsNull: Boolean = child.dataType match {
    case ArrayType(_, cn) => cn
    case _ => false
  }

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(t, _) if t == FloatType || t == DoubleType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"$prettyName expects a float/double array, got ${other.simpleString}")
    }

  override def nullSafeEval(input: Any): Any = {
    val a = input.asInstanceOf[ArrayData]
    val isF = childIsFloat; val checkNulls = childContainsNull
    val n = a.numElements()
    var m = 0.0; var i = 0
    while (i < n) {
      if (checkNulls && a.isNullAt(i)) return null
      val x = math.abs(if (isF) a.getFloat(i).toDouble else a.getDouble(i))
      if (x > m) m = x
      i += 1
    }
    val scale = m / 127.0
    val codes = new Array[Int](n)
    if (scale != 0.0) {
      i = 0
      while (i < n) {
        val x = if (isF) a.getFloat(i).toDouble else a.getDouble(i)
        codes(i) = math.floor(x / scale + 0.5).toInt
        i += 1
      }
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](scale,
        org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
          .fromPrimitiveArray(codes)))
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val get = if (childIsFloat) "getFloat" else "getDouble"
    nullSafeCodeGen(ctx, ev, a => {
      val n = ctx.freshName("n"); val i = ctx.freshName("i")
      val m = ctx.freshName("m"); val x = ctx.freshName("x")
      val sc = ctx.freshName("sc"); val codes = ctx.freshName("codes")
      val nullGuard =
        if (childContainsNull)
          s"if ($a.isNullAt($i)) { ${ev.isNull} = true; break; }"
        else ""
      s"""
         |int $n = $a.numElements();
         |double $m = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $nullGuard
         |  double $x = java.lang.Math.abs((double) $a.$get($i));
         |  if ($x > $m) { $m = $x; }
         |}
         |if (!${ev.isNull}) {
         |  double $sc = $m / 127.0;
         |  int[] $codes = new int[$n];
         |  if ($sc != 0.0) {
         |    for (int $i = 0; $i < $n; $i++) {
         |      $codes[$i] = (int) java.lang.Math.floor((double) $a.$get($i) / $sc + 0.5);
         |    }
         |  }
         |  ${ev.value} = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
         |    new Object[] { (Object) $sc,
         |      (Object) org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
         |        .fromPrimitiveArray($codes) });
         |}
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): QuantizeInt8 =
    copy(child = newChild)
}

/** cosine(u, dequantize(q8)) fused into one generated loop — the native
  * form of `VectorCosine(u, transform(codes, c -> c * scale))`, whose
  * `transform` is CodegenFallback and allocates a dequantized array per
  * (query, corpus-row) pair in the int8 ANN scoring join — the hottest
  * loop a11 runs. Element order and operations match the HOF chain
  * exactly (y = (double)codes(i) * scale, folded ascending into
  * dot/normU/normV), so the doubles — and therefore the oracle-pinned
  * shortlist ranks — are bit-identical. Zero norm → 0.0; NULL struct,
  * NULL field, or NULL element → NULL (the HOF chain null-propagates
  * the same way).
  */
case class CosineDequantInt8(left: Expression, right: Expression)
  extends BinaryExpression {

  override def prettyName: String = "cosine_dequant_int8"
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true

  private def leftIsFloat: Boolean = left.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }
  private def leftContainsNull: Boolean = left.dataType match {
    case ArrayType(_, cn) => cn
    case _ => false
  }
  private def codesContainNull: Boolean = right.dataType match {
    case StructType(fields) => fields(1).dataType match {
      case ArrayType(_, cn) => cn
      case _ => false
    }
    case _ => false
  }

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(t, _), StructType(fs))
        if (t == FloatType || t == DoubleType) && fs.length == 2 &&
          fs(0).dataType == DoubleType &&
          (fs(1).dataType match {
            case ArrayType(IntegerType, _) => true
            case _ => false
          }) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case _ =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"$prettyName expects (float/double array, struct(scale double, " +
            s"codes array<int>)), got ${left.dataType.simpleString} / " +
            s"${right.dataType.simpleString}")
    }

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val row = r.asInstanceOf[org.apache.spark.sql.catalyst.InternalRow]
    if (row.isNullAt(0) || row.isNullAt(1)) return null
    val scale = row.getDouble(0)
    val codes = row.getArray(1)
    val isF = leftIsFloat
    val checkL = leftContainsNull; val checkR = codesContainNull
    val n = math.min(a.numElements(), codes.numElements())
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < n) {
      if ((checkL && a.isNullAt(i)) || (checkR && codes.isNullAt(i))) return null
      val x = if (isF) a.getFloat(i).toDouble else a.getDouble(i)
      val y = codes.getInt(i).toDouble * scale
      dot += x * y; na += x * x; nb += y * y; i += 1
    }
    if (na == 0.0 || nb == 0.0) 0.0 else dot / (math.sqrt(na) * math.sqrt(nb))
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val get = if (leftIsFloat) "getFloat" else "getDouble"
    nullSafeCodeGen(ctx, ev, (a, r) => {
      val n = ctx.freshName("n"); val i = ctx.freshName("i")
      val sc = ctx.freshName("sc"); val codes = ctx.freshName("codes")
      val dot = ctx.freshName("dot"); val na = ctx.freshName("na")
      val nb = ctx.freshName("nb"); val x = ctx.freshName("x"); val y = ctx.freshName("y")
      val elemGuard =
        if (leftContainsNull || codesContainNull)
          s"""if (${if (leftContainsNull) s"$a.isNullAt($i)" else "false"} ||
             |    ${if (codesContainNull) s"$codes.isNullAt($i)" else "false"}) {
             |  ${ev.isNull} = true; break;
             |}""".stripMargin
        else ""
      s"""
         |if ($r.isNullAt(0) || $r.isNullAt(1)) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $sc = $r.getDouble(0);
         |  org.apache.spark.sql.catalyst.util.ArrayData $codes = $r.getArray(1);
         |  int $n = java.lang.Math.min($a.numElements(), $codes.numElements());
         |  double $dot = 0.0; double $na = 0.0; double $nb = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    $elemGuard
         |    double $x = (double) $a.$get($i);
         |    double $y = (double) $codes.getInt($i) * $sc;
         |    $dot += $x * $y; $na += $x * $x; $nb += $y * $y;
         |  }
         |  if (!${ev.isNull}) {
         |    ${ev.value} = ($na == 0.0 || $nb == 0.0)
         |      ? 0.0 : $dot / (java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb));
         |  }
         |}
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression): CosineDequantInt8 =
    copy(left = l, right = r)
}

/** Session registration so `expr("vector_dot(a,b)")` / SQL can use the
  * native expressions (idempotent per session).
  */
object GraftFunctions {
  private val registered = java.util.Collections.newSetFromMap(
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Boolean]())

  def ensureRegistered(spark: SparkSession): Unit = {
    if (!registered.add(spark.sessionState.toString)) return
    val reg = spark.sessionState.functionRegistry
    // every builder guards arity BEFORE indexing exprs — a wrong-arity
    // SQL call must fail with the function name and expected signature,
    // not a raw IndexOutOfBoundsException (r14 review; the r13
    // unicode_normalize fix generalized)
    def arity(exprs: Seq[Expression], n: Int, fn: String, sig: String): Unit =
      require(exprs.size == n,
        s"$fn expects $n arguments ($sig), got ${exprs.size}")
    reg.registerFunction(
      FunctionIdentifier("vector_dot"),
      new ExpressionInfo(classOf[VectorDot].getName, "vector_dot"),
      (exprs: Seq[Expression]) => {
        arity(exprs, 2, "vector_dot", "vecA, vecB")
        VectorDot(exprs(0), exprs(1))
      })
    reg.registerFunction(
      FunctionIdentifier("vector_cosine"),
      new ExpressionInfo(classOf[VectorCosine].getName, "vector_cosine"),
      (exprs: Seq[Expression]) => {
        arity(exprs, 2, "vector_cosine", "vecA, vecB")
        VectorCosine(exprs(0), exprs(1))
      })
    def intLit(e: Expression, fn: String): Int = e match {
      case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, IntegerType) => v
      case other => throw new IllegalArgumentException(
        s"$fn: width must be an integer literal, got $other")
    }
    reg.registerFunction(
      FunctionIdentifier("word_shingles"),
      new ExpressionInfo(classOf[WordShingles].getName, "word_shingles"),
      (exprs: Seq[Expression]) => {
        arity(exprs, 2, "word_shingles", "text, n")
        WordShingles(exprs(0), intLit(exprs(1), "word_shingles"))
      })
    reg.registerFunction(
      FunctionIdentifier("token_ngrams"),
      new ExpressionInfo(classOf[TokenNgrams].getName, "token_ngrams"),
      (exprs: Seq[Expression]) => {
        arity(exprs, 2, "token_ngrams", "tokens, n")
        TokenNgrams(exprs(0), intLit(exprs(1), "token_ngrams"))
      })
    reg.registerFunction(
      FunctionIdentifier("top_ngram_count"),
      new ExpressionInfo(classOf[TopNgramCount].getName, "top_ngram_count"),
      (exprs: Seq[Expression]) => {
        arity(exprs, 2, "top_ngram_count", "tokens, n")
        TopNgramCount(exprs(0), intLit(exprs(1), "top_ngram_count"))
      })
    reg.registerFunction(
      FunctionIdentifier("unicode_normalize"),
      new ExpressionInfo(classOf[UnicodeNormalize].getName, "unicode_normalize"),
      (exprs: Seq[Expression]) => {
        // arity first: a 0-arg call must fail with this message, not an
        // IndexOutOfBoundsException from exprs(0) (r13 ADVICE)
        require(exprs.size == 1 || exprs.size == 2,
          s"unicode_normalize expects (string) or (string, form), got ${exprs.size} arguments")
        UnicodeNormalize(exprs(0), exprs match {
          case Seq(_) => "NFC"
          case Seq(_, org.apache.spark.sql.catalyst.expressions.Literal(f: org.apache.spark.unsafe.types.UTF8String, StringType)) =>
            // Locale.ROOT: form matching must not depend on the JVM default
            // locale (Turkish dotless-i class of bug)
            f.toString.toUpperCase(java.util.Locale.ROOT)
          case _ => throw new IllegalArgumentException(
            "unicode_normalize: form must be a string literal (NFC/NFD/NFKC/NFKD)")
        })
      })
    reg.registerFunction(
      FunctionIdentifier("char_entropy"),
      new ExpressionInfo(classOf[CharEntropy].getName, "char_entropy"),
      (exprs: Seq[Expression]) => {
        arity(exprs, 1, "char_entropy", "text")
        CharEntropy(exprs(0))
      })
    reg.registerFunction(
      FunctionIdentifier("bounded_top_k"),
      new ExpressionInfo(classOf[BoundedTopK].getName, "bounded_top_k"),
      (exprs: Seq[Expression]) => {
        arity(exprs, 2, "bounded_top_k", "value, k")
        BoundedTopK(exprs(0), intLit(exprs(1), "bounded_top_k"))
          .toAggregateExpression()
      })
  }
}

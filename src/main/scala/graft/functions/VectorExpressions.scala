package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graft.StreamShim.{column, expressionOf}
import org.apache.spark.sql.types._

/** Native Catalyst expression for cosine similarity of two numeric
  * array columns, evaluated in ONE pass per row.
  *
  * The composed `sql.functions` form needs three higher-order-function
  * aggregates per row (dot, ‖a‖², ‖b‖²), each a separate array
  * traversal outside whole-stage codegen. This expression fuses them.
  * Accumulation order (sequential, double precision) is identical to
  * the HOF form, so results are bit-equal and oracle-stable.
  */
final case class CosineSimilarity(left: Expression, right: Expression)
    extends BinaryExpression with CodegenFallback {

  override def dataType: DataType = DoubleType

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    def ok(dt: DataType) = dt match {
      case ArrayType(FloatType | DoubleType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType))
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"cosine_similarity expects array<float|double>, got " +
          s"${left.dataType.simpleString}, ${right.dataType.simpleString}")
  }

  private def elemIsFloat(e: Expression): Boolean = e.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    val xf = elemIsFloat(left)
    val yf = elemIsFloat(right)
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val xi = if (xf) x.getFloat(i).toDouble else x.getDouble(i)
      val yi = if (yf) y.getFloat(i).toDouble else y.getDouble(i)
      dot += xi * yi
      na += xi * xi
      nb += yi * yi
      i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Index of the centroid (element of `right`, an array<array<double>>)
  * with the highest cosine similarity to `left` (array<float|double>);
  * ties break to the LOWEST index. ONE projection pass per row — this
  * is the IVF assignment step as a shuffle-free map: the centroid set
  * is a broadcast-sized literal, so at 100 TB the corpus is scanned
  * once with zero exchanges between scan and assignment (vs the
  * corpus×nlist crossJoin + row_number window it replaces).
  */
final case class ArgMaxCosine(left: Expression, right: Expression)
    extends BinaryExpression with CodegenFallback {

  override def dataType: DataType = IntegerType

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    def vecOk(dt: DataType) = dt match {
      case ArrayType(FloatType | DoubleType, _) => true
      case _ => false
    }
    val centsOk = right.dataType match {
      case ArrayType(ArrayType(DoubleType, _), _) => true
      case _ => false
    }
    if (vecOk(left.dataType) && centsOk)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"argmax_cosine expects (array<float|double>, array<array<double>>), got " +
          s"${left.dataType.simpleString}, ${right.dataType.simpleString}")
  }

  private def elemIsFloat: Boolean = left.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val v = a.asInstanceOf[ArrayData]
    val cents = b.asInstanceOf[ArrayData]
    val vf = elemIsFloat
    var best = -1
    var bestSim = Double.NegativeInfinity
    var c = 0
    val nc = cents.numElements()
    while (c < nc) {
      val cent = cents.getArray(c)
      val n = math.min(v.numElements(), cent.numElements())
      var dot = 0.0; var na = 0.0; var nb = 0.0
      var i = 0
      while (i < n) {
        val xi = if (vf) v.getFloat(i).toDouble else v.getDouble(i)
        val yi = cent.getDouble(i)
        dot += xi * yi
        na += xi * xi
        nb += yi * yi
        i += 1
      }
      val sim = dot / (math.sqrt(na) * math.sqrt(nb))
      if (sim > bestSim) { bestSim = sim; best = c }
      c += 1
    }
    best
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Index of the centroid (element of `right`, an array<array<double>>)
  * with the smallest squared L2 distance to `left` (array<float|double>);
  * ties break to the LOWEST index — the PQ / IVF-residual assignment
  * step as ONE native projection pass (the ArgMaxCosine analog for the
  * L2 metric). Replaces the composed form (k inlined
  * aggregate(zip_with(...)) trees per assignment): the per-element
  * arithmetic — float→double cast, (a−b)², sequential left-fold sum,
  * Spark's NaN-greatest double ordering, lowest-index tie-break — is
  * reproduced exactly, so results are bit-equal and oracle-stable,
  * while the plan shrinks k× and the scan-side eval is a tight loop.
  */
final case class ArgMinL2(left: Expression, right: Expression)
    extends BinaryExpression with CodegenFallback {

  override def dataType: DataType = IntegerType

  // null even on non-null inputs: an empty centroid matrix (composed
  // array_min-over-empty semantics)
  override def nullable: Boolean = true

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    def vecOk(dt: DataType) = dt match {
      case ArrayType(FloatType | DoubleType, _) => true
      case _ => false
    }
    val centsOk = right.dataType match {
      case ArrayType(ArrayType(DoubleType, _), _) => true
      case _ => false
    }
    if (vecOk(left.dataType) && centsOk)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"argmin_l2 expects (array<float|double>, array<array<double>>), got " +
          s"${left.dataType.simpleString}, ${right.dataType.simpleString}")
  }

  private def elemIsFloat: Boolean = left.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val v = a.asInstanceOf[ArrayData]
    val cents = b.asInstanceOf[ArrayData]
    val vf = elemIsFloat
    val nc = cents.numElements()
    if (nc == 0) return null // composed form: array_min over empty → null
    var best = -1
    var bestD = 0.0
    var c = 0
    val vn = v.numElements()
    while (c < nc) {
      val cent = cents.getArray(c)
      val cn = cent.numElements()
      // composed-form null semantics: a length mismatch (zip_with pads
      // with null) or any null element yields a NULL distance, and
      // array_min's nulls-first struct ordering then returns the LOWEST
      // such centroid index — reproduce exactly
      var hasNull = vn != cn
      var d = 0.0
      var i = 0
      val n = math.min(vn, cn)
      while (i < n && !hasNull) {
        if (v.isNullAt(i) || cent.isNullAt(i)) hasNull = true
        else {
          val xi = if (vf) v.getFloat(i).toDouble else v.getDouble(i)
          val diff = xi - cent.getDouble(i)
          d += diff * diff
        }
        i += 1
      }
      if (hasNull) return c
      // Double.compare: NaN sorts greatest — same ordering array_min
      // applied to the composed struct(dist, id) form
      if (best == -1 || java.lang.Double.compare(d, bestD) < 0) {
        best = c; bestD = d
      }
      c += 1
    }
    best
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Banded hyperplane-LSH signature of a numeric vector in ONE native
  * pass: `bands` long values, band b's bit p set iff
  * `dot(vec, plane(b*planes+p)) >= 0`. The composed SQL form costs one
  * `aggregate(zip_with(...))` traversal PER PLANE (bands×planes
  * traversals — measured as the dominant cost of the banded near-dup
  * pass at the sf1 sweep); this fuses all of them into a single
  * traversal against a per-task-cached deterministic plane matrix
  * (xxhash64-derived components, ~`bands·planes·dims·8` bytes). */
final case class HyperplaneSig(child: Expression, planes: Int, bands: Int)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression
    with CodegenFallback {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = child.dataType match {
    case ArrayType(FloatType | DoubleType, _) =>
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    case dt =>
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"hyperplane_sig expects array<float|double>, got ${dt.simpleString}")
  }

  private def elemIsFloat: Boolean = child.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  // plane matrix cached per expression instance. ONE volatile field
  // holding an immutable (dims, matrix) pair: the pair is fully built
  // before the single volatile write publishes it, so a second thread
  // sharing the instance (nothing forbids it for a CodegenFallback
  // expression) can never observe a dims/matrix mismatch — two plain
  // fields written separately could. A rare race just rebuilds the
  // same deterministic values.
  @transient @volatile private var cached: (Int, Array[Double]) = _

  private def planeMatrix(dims: Int): Array[Double] = {
    val c = cached
    if (c != null && c._1 == dims) c._2
    else {
      val np = bands * planes
      val m = new Array[Double](np * dims)
      var gp = 0
      while (gp < np) {
        var i = 0
        while (i < dims) {
          val h = org.apache.spark.sql.catalyst.expressions.XxHash64Function
            .hash((gp.toLong << 32) | i.toLong, LongType, 42L)
          m(gp * dims + i) = java.lang.Math.floorMod(h, 1000L).toDouble / 1000.0 - 0.5
          i += 1
        }
        gp += 1
      }
      cached = (dims, m)
      m
    }
  }

  override def nullSafeEval(a: Any): Any = {
    val v = a.asInstanceOf[ArrayData]
    val n = v.numElements()
    val vf = elemIsFloat
    val m = planeMatrix(n)
    val out = new Array[Long](bands)
    var b = 0
    while (b < bands) {
      var sig = 0L
      var p = 0
      while (p < planes) {
        val base = (b * planes + p) * n
        var dot = 0.0
        var i = 0
        while (i < n) {
          val xi = if (vf) v.getFloat(i).toDouble else v.getDouble(i)
          dot += xi * m(base + i)
          i += 1
        }
        if (dot >= 0) sig |= (1L << p)
        p += 1
      }
      out(b) = sig
      b += 1
    }
    ArrayData.toArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): HyperplaneSig =
    copy(child = newChild)

  override def prettyName: String = "hyperplane_sig"
}

object VectorExpressions {
  /** Banded hyperplane-LSH signature column (array<long>, one value
    * per band) — see [[HyperplaneSig]]. */
  def hyperplaneSig(vec: Column, planes: Int, bands: Int): Column =
    column(HyperplaneSig(expressionOf(vec), planes, bands))

  /** Cosine similarity of two numeric array columns. */
  def cosineSimilarity(a: Column, b: Column): Column =
    column(CosineSimilarity(expressionOf(a), expressionOf(b)))

  /** Nearest-centroid index by cosine over a literal centroid matrix. */
  def argMaxCosine(vec: Column, centroids: Column): Column =
    column(ArgMaxCosine(expressionOf(vec), expressionOf(centroids)))

  /** Nearest-centroid index by squared L2 over a literal centroid
    * matrix (the PQ / IVF-residual assignment step). */
  def argMinL2(vec: Column, centroids: Column): Column =
    column(ArgMinL2(expressionOf(vec), expressionOf(centroids)))
}

package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._

/** Codegen nearest-centroid kernels over MLlib `Vector` columns — the
  * one definition of "distance to a center" in the engine: the distance
  * formula, the cosine `nn == 0 → 1.0` guard and the first-of-tied tie
  * rule live here and nowhere else. Callers:
  *  - [[graft.cluster.Clustering.lloydLoop]] assigns each row with
  *    `nearestCenter` and sums its per-cluster loss with
  *    `centerDistance` (tasks 2.1–2.3, `ml_lloyd_losses`);
  *  - [[graft.cluster.Clustering.isNearest]] checks a fitted model's
  *    assignments against both (the `ml_kmeans_assign` and
  *    `ml_doc_clusters` nearest-center invariants).
  *
  * The expressions read the `VectorUDT` STORAGE struct (`type: tinyint,
  * size: int, indices: array<int>, values: array<double>`) directly
  * inside whole-stage codegen — no UDT deserialization, no per-row
  * object allocation — and are sparse-aware: a sparse row costs O(nnz)
  * for the dot/cosine path, so high-dimensional TF-IDF vectors never
  * densify.
  *
  * The k centers ride as a plan reference object (`ctx.addReferenceObj`),
  * shipped once per stage with the task binary — the distribution cost
  * of a broadcast without the per-row closure.
  *
  * Euclidean mode is the direct Σ(vᵢ − cᵢ)² sum in `Vectors.sqdist`'s
  * order (bit-compatible with the golden task-2.1 artifacts), not the
  * expansion ‖v‖² − 2v·c + ‖c‖², whose cancellation near a centroid can
  * flip a near-tie. Cosine mode accumulates in the order of
  * `foreachActive` + `Vectors.norm(v, 2)`.
  */
object CenterKernels {

  /** Index (0-based) of the nearest center under the mode's distance;
    * strict `<` keeps the first of tied centers.
    */
  def nearest(row: InternalRow, centers: Array[Array[Double]],
              norms: Array[Double], cosine: Boolean): Int = {
    var best = 0
    var bestD = Double.MaxValue
    var i = 0
    while (i < centers.length) {
      val d = dist(row, centers(i), norms(i), cosine)
      if (d < bestD) { bestD = d; best = i }
      i += 1
    }
    best
  }

  /** Distance of the row's vector to center `idx` (the stats pass). */
  def distTo(row: InternalRow, idx: Int, centers: Array[Array[Double]],
             norms: Array[Double], cosine: Boolean): Double =
    dist(row, centers(idx), norms(idx), cosine)

  /** L2 norms of the centers, same summation order as
    * `Vectors.norm(c, 2)` (plain in-order sum of squares, then sqrt).
    */
  def centerNorms(centers: Array[Array[Double]]): Array[Double] =
    centers.map { c =>
      var s = 0.0; var i = 0
      while (i < c.length) { s += c(i) * c(i); i += 1 }
      math.sqrt(s)
    }

  // VectorUDT storage layout: type (1 = dense, 0 = sparse), size,
  // indices, values
  private def dist(row: InternalRow, c: Array[Double], cNorm: Double,
                   cosine: Boolean): Double = {
    val dense = row.getByte(0) == 1
    val values = row.getArray(3)
    // the UDF path this replaced (Vectors.sqdist) THREW on dimension
    // mismatch; a kernel that silently ignored out-of-range entries
    // would return a too-small distance and a wrong argmin instead
    val dim = if (dense) values.numElements() else row.getInt(1)
    if (dim != c.length)
      throw new IllegalArgumentException(
        s"vector dimension $dim does not match center dimension ${c.length}")
    if (cosine) {
      // dot + ‖v‖ in one pass over the ACTIVE entries, in storage order —
      // identical accumulation to foreachActive + Vectors.norm(v, 2)
      var dot = 0.0
      var vsq = 0.0
      if (dense) {
        val n = values.numElements()
        var i = 0
        while (i < n) {
          val x = values.getDouble(i)
          dot += x * c(i); vsq += x * x; i += 1
        }
      } else {
        val idx = row.getArray(2)
        val nnz = values.numElements()
        var k = 0
        while (k < nnz) {
          val x = values.getDouble(k)
          dot += x * c(idx.getInt(k)); vsq += x * x; k += 1
        }
      }
      val nn = math.sqrt(vsq) * cNorm
      if (nn == 0) 1.0 else 1.0 - dot / nn
    } else {
      // Σ (vᵢ − cᵢ)² over all dimensions in index order (the
      // dense-dense Vectors.sqdist accumulation)
      var s = 0.0
      if (dense) {
        var i = 0
        while (i < c.length) {
          val d = values.getDouble(i) - c(i)
          s += d * d; i += 1
        }
      } else {
        val idx = row.getArray(2)
        val nnz = values.numElements()
        var k = 0
        var i = 0
        while (i < c.length) {
          val x =
            if (k < nnz && idx.getInt(k) == i) { val t = values.getDouble(k); k += 1; t }
            else 0.0
          val d = x - c(i)
          s += d * d; i += 1
        }
      }
      s
    }
  }

  private[functions] def isVectorType(dt: DataType): Boolean = dt match {
    case udt: UserDefinedType[_] => udt.sqlType match {
      case StructType(fields) =>
        fields.length == 4 && fields(0).name == "type" && fields(3).name == "values"
      case _ => false
    }
    case _ => false
  }

  /** Column API: 0-based index of the nearest of `centers` (dense
    * driver-side arrays) to a `Vector` column, in the given mode.
    */
  def nearestCenter(v: Column, centers: Array[Array[Double]],
                    cosine: Boolean): Column =
    ColumnBridge.column(
      NearestCenterIdx(ColumnBridge.expression(v), centers, cosine))

  /** Column API: distance of a `Vector` column to the center selected by
    * an int index column — O(dim) per row, for the stats pass after the
    * O(k·dim) argmin.
    */
  def centerDistance(v: Column, idx: Column, centers: Array[Array[Double]],
                     cosine: Boolean): Column =
    ColumnBridge.column(CenterDistance(
      ColumnBridge.expression(v), ColumnBridge.expression(idx), centers, cosine))
}

/** `argmin_c dist(v, c)` as a unary codegen expression over a Vector
  * column. See [[CenterKernels]] for semantics.
  */
case class NearestCenterIdx(child: Expression, centers: Array[Array[Double]],
                            cosine: Boolean) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (CenterKernels.isVectorType(child.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a Vector column, got ${child.dataType.sql}")

  override def dataType: DataType = IntegerType
  override def prettyName: String = "nearest_center"

  @transient private lazy val norms: Array[Double] =
    CenterKernels.centerNorms(centers)

  override def nullSafeEval(v: Any): Any =
    CenterKernels.nearest(v.asInstanceOf[InternalRow], centers, norms, cosine)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val cRef = ctx.addReferenceObj("centers", centers, "double[][]")
      val nRef = ctx.addReferenceObj("norms", norms, "double[]")
      s"${ev.value} = graft.functions.CenterKernels.nearest($c, $cRef, $nRef, $cosine);"
    })

  override protected def withNewChildInternal(newChild: Expression): NearestCenterIdx =
    copy(child = newChild)
}

/** `dist(v, centers[idx])` as a binary codegen expression — vector column
  * × int index column. See [[CenterKernels]] for semantics.
  */
case class CenterDistance(left: Expression, right: Expression,
                          centers: Array[Array[Double]], cosine: Boolean)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (CenterKernels.isVectorType(left.dataType) && right.dataType == IntegerType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires (Vector, int) operands, got " +
        s"${left.dataType.sql}, ${right.dataType.sql}")

  override def dataType: DataType = DoubleType
  override def prettyName: String = "center_distance"

  @transient private lazy val norms: Array[Double] =
    CenterKernels.centerNorms(centers)

  override def nullSafeEval(v: Any, i: Any): Any =
    CenterKernels.distTo(v.asInstanceOf[InternalRow], i.asInstanceOf[Int],
      centers, norms, cosine)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (v, i) => {
      val cRef = ctx.addReferenceObj("centers", centers, "double[][]")
      val nRef = ctx.addReferenceObj("norms", norms, "double[]")
      s"${ev.value} = graft.functions.CenterKernels.distTo($v, $i, $cRef, $nRef, $cosine);"
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CenterDistance =
    copy(left = newLeft, right = newRight)
}

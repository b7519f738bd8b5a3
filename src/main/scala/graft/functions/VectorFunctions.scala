package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** Codegen'd strict left-to-right dot product over two numeric arrays —
  * `acc = ((0 + a0*b0) + a1*b1) + ...` with every element widened to double
  * first, the exact IEEE sequence the DuckDB oracle's `list_reduce` fold
  * executes, so results agree bit-for-bit.
  *
  * Exists because Spark's higher-order functions (`zip_with` + `aggregate`)
  * are evaluated interpreted — one lambda closure call per element — which
  * dominates the runtime of pairwise-cosine operators (millions of pairs x
  * 64 dims). This expression participates in whole-stage codegen as a tight
  * primitive loop (reference workload: HoloChatStats `web/api.py:3009`
  * pgvector cosine search).
  *
  * Shorter array wins on length mismatch; a null array, or a null ELEMENT
  * in either array, propagates null (the fold semantics of the oracle).
  */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression {

  // primitive numerics only: both eval paths widen via a Java (double)
  // cast, which DecimalType's object representation can't satisfy
  private def primitiveNumeric(t: DataType): Boolean = t match {
    case DoubleType | org.apache.spark.sql.types.FloatType |
         org.apache.spark.sql.types.LongType | org.apache.spark.sql.types.IntegerType |
         org.apache.spark.sql.types.ShortType | org.apache.spark.sql.types.ByteType => true
    case _ => false
  }

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(l, _), ArrayType(r, _))
          if primitiveNumeric(l) && primitiveNumeric(r) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case (l, r) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"vec_dot requires two primitive numeric arrays (no decimal), " +
            s"got ${l.catalogString} and ${r.catalogString}")
    }

  override def nullable: Boolean = true
  override def dataType: DataType = DoubleType
  override def prettyName: String = "vec_dot"

  private def elemType(e: Expression): DataType =
    e.dataType.asInstanceOf[ArrayType].elementType

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val (tx, ty) = (elemType(left), elemType(right))
    val n = math.min(x.numElements(), y.numElements())
    var acc = 0d
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      acc += numAt(x, i, tx) * numAt(y, i, ty)
      i += 1
    }
    acc
  }

  private def numAt(arr: ArrayData, i: Int, t: DataType): Double =
    t match {
      case DoubleType => arr.getDouble(i)
      case org.apache.spark.sql.types.FloatType => arr.getFloat(i).toDouble
      case org.apache.spark.sql.types.LongType => arr.getLong(i).toDouble
      case org.apache.spark.sql.types.IntegerType => arr.getInt(i).toDouble
      case org.apache.spark.sql.types.ShortType => arr.getShort(i).toDouble
      case org.apache.spark.sql.types.ByteType => arr.getByte(i).toDouble
      case other => throw new IllegalArgumentException(s"vec_dot: unsupported element type $other")
    }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      val getA = CodeGenerator.getValue(a, elemType(left), i)
      val getB = CodeGenerator.getValue(b, elemType(right), i)
      s"""
         |final int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $acc = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }
         |  $acc += ((double)($getA)) * ((double)($getB));
         |}
         |if (!${ev.isNull}) { ${ev.value} = $acc; }
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Custom aggregate: element-wise sum of numeric arrays into a
  * double[dim] buffer — `SELECT vec_sum(embedding) ... GROUP BY cell`.
  *
  * Exists because Spark has no array-sum aggregate: the alternative is
  * posexplode (dim× the rows through the shuffle) + groupBy(key, pos) +
  * collect_list reassembly. This aggregate moves exactly one double[dim]
  * per (group, partition) through the merge path. Mirrors how an IVF
  * coarse-quantizer build behaves at scale (reference workload:
  * HoloChatStats pgvector embeddings, web/api.py:3009).
  */
case class VectorSumAgg(child: Expression, dim: Int,
                        mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
    extends org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate[Array[Double]] {

  import org.apache.spark.sql.catalyst.InternalRow

  // vec_sum is SQL-exposed (GraftExtensions), so malformed input must fail at
  // ANALYSIS time with a readable message, not as an executor ClassCastException
  private def primitiveNumeric(t: DataType): Boolean = t match {
    case DoubleType | org.apache.spark.sql.types.FloatType |
         org.apache.spark.sql.types.LongType | org.apache.spark.sql.types.IntegerType |
         org.apache.spark.sql.types.ShortType | org.apache.spark.sql.types.ByteType => true
    case _ => false
  }

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(e, _) if primitiveNumeric(e) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"vec_sum requires a primitive numeric array (no decimal), " +
            s"got ${other.catalogString}")
    }

  override def createAggregationBuffer(): Array[Double] = new Array[Double](dim)

  private def elemType: DataType = child.dataType.asInstanceOf[ArrayType].elementType

  override def update(buffer: Array[Double], input: InternalRow): Array[Double] = {
    val v = child.eval(input)
    if (v != null) {
      val arr = v.asInstanceOf[ArrayData]
      val t = elemType
      val n = arr.numElements()
      if (n != dim) {
        throw new IllegalArgumentException(
          s"vec_sum: expected $dim-element vectors, got $n elements")
      }
      var i = 0
      while (i < n) {
        // SQL-SUM semantics per slot: a null element contributes nothing
        // (vec_dot's propagate-null fold is for pairwise products; a sum
        // aggregate ignoring nulls matches SUM over the exploded column)
        if (!arr.isNullAt(i)) {
          buffer(i) += (t match {
            case DoubleType => arr.getDouble(i)
            case org.apache.spark.sql.types.FloatType => arr.getFloat(i).toDouble
            case org.apache.spark.sql.types.LongType => arr.getLong(i).toDouble
            case org.apache.spark.sql.types.IntegerType => arr.getInt(i).toDouble
            case org.apache.spark.sql.types.ShortType => arr.getShort(i).toDouble
            case org.apache.spark.sql.types.ByteType => arr.getByte(i).toDouble
            case other => throw new IllegalArgumentException(s"vec_sum: unsupported element type $other")
          })
        }
        i += 1
      }
    }
    buffer
  }

  override def merge(b1: Array[Double], b2: Array[Double]): Array[Double] = {
    var i = 0
    while (i < dim) { b1(i) += b2(i); i += 1 }
    b1
  }

  override def eval(buffer: Array[Double]): Any =
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray(buffer)

  override def serialize(buffer: Array[Double]): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(8 * dim)
    buffer.foreach(bb.putDouble)
    bb.array()
  }

  override def deserialize(storage: Array[Byte]): Array[Double] = {
    val bb = java.nio.ByteBuffer.wrap(storage)
    Array.fill(dim)(bb.getDouble)
  }

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def nullable: Boolean = false
  override def children: Seq[Expression] = Seq(child)
  override def prettyName: String = "vec_sum"

  override def withNewMutableAggBufferOffset(newOffset: Int): VectorSumAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): VectorSumAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(child = newChildren.head)
}

/** Codegen'd product-quantization encoder: splits a `dim`-element vector
  * into `m` subspaces and emits, per subspace, the index of the nearest
  * codebook centroid (squared-L2, ties to the lowest index) — the
  * fixed-size code word (`m` small ints) that PQ ANN stores instead of the
  * raw vector. The codebook is a driver-trained constant baked into the
  * expression (reference workload: pgvector highlight search at corpus
  * scale, web/api.py:3009).
  *
  * Exists because the argmin-over-centroids is a hot per-row loop
  * (m × k × dim/m multiply-adds): as an expression tree it would be
  * m × k DotProduct nodes; here it is one tight compiled loop inside
  * whole-stage codegen. Null vector propagates null; null ELEMENTS read
  * as 0.0 (PQ codes are storage, not arithmetic — a hole quantizes as 0).
  */
case class PqEncode(child: Expression, dim: Int, m: Int, k: Int, codebook: Array[Double])
    extends UnaryExpression {

  require(m > 0 && dim % m == 0, s"dim $dim must divide into $m subspaces")
  require(codebook.length == m * k * (dim / m),
    s"codebook must be m*k*(dim/m) = ${m * k * (dim / m)} doubles, got ${codebook.length}")

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(DoubleType | org.apache.spark.sql.types.FloatType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"pq_encode requires ARRAY<FLOAT|DOUBLE>, got ${other.catalogString}")
    }

  override def dataType: DataType = ArrayType(org.apache.spark.sql.types.IntegerType, containsNull = false)
  override def prettyName: String = "pq_encode"

  private lazy val isFloat: Boolean =
    child.dataType.asInstanceOf[ArrayType].elementType == org.apache.spark.sql.types.FloatType

  /** |centroid|^2 per (subspace, code) — precomputed once at plan time. */
  private lazy val cnorm: Array[Double] = {
    val sub = dim / m
    Array.tabulate(m * k) { sc =>
      var acc = 0d
      var j = 0
      while (j < sub) { val x = codebook(sc * sub + j); acc += x * x; j += 1 }
      acc
    }
  }

  override def nullSafeEval(v: Any): Any =
    PqEncode.compute(v.asInstanceOf[ArrayData], isFloat, dim, m, k, codebook, cnorm)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cbRef = ctx.addReferenceObj("pqCodebook", codebook, "double[]")
    val cnRef = ctx.addReferenceObj("pqCnorm", cnorm, "double[]")
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.PqEncode.compute($c, $isFloat, $dim, $m, $k, $cbRef, $cnRef);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object PqEncode {
  /** Shared by interpreted eval and codegen: argmin_c |v_s - c|^2 per
    * subspace via the expanded form |c|^2 - 2<v_s, c> (|v_s|^2 is constant
    * within a subspace's argmin).
    */
  def compute(arr: ArrayData, isFloat: Boolean, dim: Int, m: Int, k: Int,
              cb: Array[Double], cn: Array[Double]): ArrayData = {
    val sub = dim / m
    val v = new Array[Double](dim)
    val n = math.min(arr.numElements(), dim)
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) v(i) = if (isFloat) arr.getFloat(i).toDouble else arr.getDouble(i)
      i += 1
    }
    val codes = new Array[Int](m)
    var s = 0
    while (s < m) {
      var best = 0
      var bestD = Double.MaxValue
      var c = 0
      while (c < k) {
        val base = (s * k + c) * sub
        var dot = 0d
        var j = 0
        while (j < sub) { dot += v(s * sub + j) * cb(base + j); j += 1 }
        val d = cn(s * k + c) - 2d * dot
        if (d < bestD) { bestD = d; best = c }
        c += 1
      }
      codes(s) = best
      s += 1
    }
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray(codes)
  }
}

/** `v − reconstruct(codes)` in one kernel — the stage-2 input of residual
  * PQ ([[graft.operators.Vectors.annPqResidual]]). The reconstruction
  * indexes the stage-1 codebook by the row's code word per subspace; as an
  * expression tree that was `zip_with(v, array(dim × element_at(lit(cb),
  * ...)), _-_)` — dim COPIES of the codebook literal riding the plan
  * (measured 533 KB of plan text at dim 64, serialized into every task
  * binary) plus two HOF traversals per row. Here the codebook is ONE
  * reference object and the subtract is a single fused loop. Values are
  * bit-identical: `v(i) - cb(base + j)` is the same IEEE subtract the
  * zip_with lambda evaluated.
  *
  * Null ARRAY propagates null (nullSafeEval); null elements read as 0.0
  * ([[PqEncode]]'s convention — unreachable behind the family's embValid
  * filter, which drops vectors with null elements).
  */
case class PqResidual(vec: Expression, codes: Expression,
                      dim: Int, m: Int, k: Int, codebook: Array[Double])
    extends BinaryExpression {

  require(m > 0 && dim % m == 0, s"dim $dim must divide into $m subspaces")
  require(codebook.length == m * k * (dim / m),
    s"codebook must be m*k*(dim/m) = ${m * k * (dim / m)} doubles, got ${codebook.length}")

  override def left: Expression = vec
  override def right: Expression = codes

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    (vec.dataType, codes.dataType) match {
      case (ArrayType(DoubleType | org.apache.spark.sql.types.FloatType, _),
            ArrayType(org.apache.spark.sql.types.IntegerType, _)) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"pq_residual requires (ARRAY<FLOAT|DOUBLE>, ARRAY<INT>), got $other")
    }

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def prettyName: String = "pq_residual"

  // the kernel itself null-propagates on malformed codes (short / null
  // element / out-of-range), so the result can be null even for non-null
  // inputs — the old element_at/zip_with tree's behavior
  override def nullable: Boolean = true

  private lazy val isFloat: Boolean =
    vec.dataType.asInstanceOf[ArrayType].elementType == org.apache.spark.sql.types.FloatType

  override def nullSafeEval(v: Any, c: Any): Any =
    PqResidual.compute(v.asInstanceOf[ArrayData], c.asInstanceOf[ArrayData],
      isFloat, dim, m, k, codebook)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cbRef = ctx.addReferenceObj("pqCodebook", codebook, "double[]")
    nullSafeCodeGen(ctx, ev, (v, c) =>
      s"""${ev.value} = graft.functions.PqResidual.compute($v, $c, $isFloat, $dim, $m, $k, $cbRef);
         |if (${ev.value} == null) { ${ev.isNull} = true; }
         |""".stripMargin)
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(vec = newLeft, codes = newRight)
}

object PqResidual {
  /** Returns null (the old `element_at`/`zip_with` tree's propagation) for
    * a malformed `codes` array — shorter than m, a null element, or a code
    * outside [0, k): UnsafeArrayData element reads are unchecked, so
    * without the guard a caller of the public `pqResidual` API with bad
    * input would read garbage or throw ArrayIndexOutOfBounds. Unreachable
    * from [[graft.operators.Vectors.annPqResidual]], whose codes are
    * always [[PqEncode]] output (length m, codes in [0, k), non-null).
    */
  def compute(arr: ArrayData, codes: ArrayData, isFloat: Boolean,
              dim: Int, m: Int, k: Int, cb: Array[Double]): ArrayData = {
    if (codes.numElements() < m) return null
    val sub = dim / m
    val out = new Array[Double](dim)
    val n = math.min(arr.numElements(), dim)
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i))
        out(i) = if (isFloat) arr.getFloat(i).toDouble else arr.getDouble(i)
      i += 1
    }
    var s = 0
    while (s < m) {
      if (codes.isNullAt(s)) return null
      val code = codes.getInt(s)
      if (code < 0 || code >= k) return null
      val base = (s * k + code) * sub
      var j = 0
      while (j < sub) { out(s * sub + j) -= cb(base + j); j += 1 }
      s += 1
    }
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray(out)
  }
}

/** `R · v` against a driver-trained d×d rotation baked as a literal —
  * the in-row transform step of OPQ ANN (rotate, then [[PqEncode]]
  * against the rotated-space codebook). Same codegen shape as PqEncode:
  * the matrix rides along as a reference object, the kernel is one
  * static method shared by interpreted eval and codegen.
  */
case class RotateVec(child: Expression, dim: Int, matrix: Array[Double])
    extends UnaryExpression {

  require(matrix.length == dim * dim, s"matrix must be $dim x $dim")

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(DoubleType | org.apache.spark.sql.types.FloatType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"rotate_vec requires ARRAY<FLOAT|DOUBLE>, got ${other.catalogString}")
    }

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def prettyName: String = "rotate_vec"

  private lazy val isFloat: Boolean =
    child.dataType.asInstanceOf[ArrayType].elementType == org.apache.spark.sql.types.FloatType

  override def nullSafeEval(v: Any): Any =
    RotateVec.compute(v.asInstanceOf[ArrayData], isFloat, dim, matrix)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val mRef = ctx.addReferenceObj("rotateMatrix", matrix, "double[]")
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.RotateVec.compute($c, $isFloat, $dim, $mRef);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object RotateVec {
  def compute(arr: ArrayData, isFloat: Boolean, dim: Int, mat: Array[Double]): ArrayData = {
    val v = new Array[Double](dim)
    val n = math.min(arr.numElements(), dim)
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) v(i) = if (isFloat) arr.getFloat(i).toDouble else arr.getDouble(i)
      i += 1
    }
    val out = new Array[Double](dim)
    var r = 0
    while (r < dim) {
      var acc = 0d
      var c = 0
      while (c < dim) { acc += mat(r * dim + c) * v(c); c += 1 }
      out(r) = acc
      r += 1
    }
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray(out)
  }
}

/** Fused nearest-centroid assignment for the k-means family: ONE pass
  * computes, for each of the k baked centroids, the exact IEEE squared-L2
  * sequence `((|v|² - (2·v·c_j)) + |c_j|²)` — every dot the same strict
  * ascending fold as [[DotProduct]] and the oracle's `list_reduce` — and
  * keeps the FIRST index attaining the minimum (the lowest-cluster
  * tie-break both engines use). Returns `struct(cluster INT, dist
  * DOUBLE)`. Replaces the k-expression array + array_min/array_position
  * composition with bit-identical values in one fused codegen'd loop
  * instead of k+2 array traversals per row — the assignment is the hot
  * path of clustering training, drift monitoring, and catalog scoring.
  *
  * A null array, or a null ELEMENT, yields null (the [[DotProduct]]
  * propagate-null contract; the k-means family's kmValid filter removes
  * such rows before this expression runs).
  */
case class NearestCentroid(child: Expression, bc: org.apache.spark.broadcast.Broadcast[CentroidBundle])
    extends UnaryExpression {

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(DoubleType | org.apache.spark.sql.types.FloatType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"nearest_centroid requires ARRAY<FLOAT|DOUBLE>, got ${other.catalogString}")
    }

  override def dataType: DataType = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("cluster",
      org.apache.spark.sql.types.IntegerType, nullable = false),
    org.apache.spark.sql.types.StructField("dist", DoubleType, nullable = false)))
  override def nullable: Boolean = true
  override def prettyName: String = "nearest_centroid"

  private lazy val isFloat: Boolean =
    child.dataType.asInstanceOf[ArrayType].elementType == org.apache.spark.sql.types.FloatType

  /** The trained constants (matrix, |c_j|² self-dot folds, two-level
    * index) — a BROADCAST handle, not plan state: the task binary stays
    * O(1) in the cell count C, the matrix ships once per executor and
    * the broadcast block manager caches the deserialized bundle (the
    * [[BloomContainsLong]] pattern). Below [[CentroidIndex.hierMin]] the
    * bundle's index is null and the kernel is the bit-exact flat scan —
    * the gate's fixed k=8 path; see [[CentroidIndex]] for the
    * deploy-scale approximation contract.
    */
  @transient private lazy val b: CentroidBundle = bc.value

  override def nullSafeEval(v: Any): Any =
    NearestCentroid.compute(v.asInstanceOf[ArrayData], isFloat, b.dim, b.n, b.cent, b.norm2, b.index)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val bcRef = ctx.addReferenceObj("ncBc", bc,
      classOf[org.apache.spark.broadcast.Broadcast[_]].getName)
    val bundle = ctx.addMutableState("graft.functions.CentroidBundle", "ncBundle")
    nullSafeCodeGen(ctx, ev, c => {
      val tmp = ctx.freshName("ncRes")
      s"""if ($bundle == null) { $bundle = (graft.functions.CentroidBundle) $bcRef.value(); }
         |Object $tmp = graft.functions.NearestCentroid.compute($c, $isFloat, $bundle.dim(), $bundle.n(), $bundle.cent(), $bundle.norm2(), $bundle.index());
         |if ($tmp == null) { ${ev.isNull} = true; } else { ${ev.value} = (org.apache.spark.sql.catalyst.InternalRow) $tmp; }
         |""".stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object NearestCentroid {
  /** Shared by interpreted eval and codegen; null on any null element.
    * `ix` is the optional two-level index ([[CentroidIndex]]) — when
    * present (and the row is finite), only the members of the
    * SUPER_PROBE nearest supers are scanned (the #121 coarse-quantizer
    * contract); scanned centroids go through the IDENTICAL IEEE sequence
    * and lowest-index tie-break, so the result is the exact best of the
    * scanned set (== the flat loop below the threshold or on separated
    * clusters — HierIndexSpec).
    */
  def compute(arr: ArrayData, isFloat: Boolean, dim: Int, k: Int,
              cent: Array[Double], cn: Array[Double], ix: CentroidIndex): Any = {
    val n = math.min(arr.numElements(), dim)
    val v = new Array[Double](n)
    var i = 0
    while (i < n) {
      if (arr.isNullAt(i)) return null
      v(i) = if (isFloat) arr.getFloat(i).toDouble else arr.getDouble(i)
      i += 1
    }
    var dvv = 0d
    i = 0
    while (i < n) { dvv += v(i) * v(i); i += 1 }
    if (ix != null && java.lang.Double.isFinite(dvv)) computeHier(v, n, dvv, dim, k, cent, cn, ix)
    else flatScan(v, n, dvv, dim, k, cent, cn)
  }

  private def flatScan(v: Array[Double], n: Int, dvv: Double, dim: Int, k: Int,
                       cent: Array[Double], cn: Array[Double]): Any = {
    var bestJ = -1
    var bestD = 0d
    var j = 0
    while (j < k) {
      var dvc = 0d
      var t = 0
      while (t < n) { dvc += v(t) * cent(j * dim + t); t += 1 }
      val d = (dvv - 2d * dvc) + cn(j)
      if (bestJ < 0 || d < bestD) { bestJ = j; bestD = d }
      j += 1
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](bestJ, bestD))
  }

  /** Two-level assignment: rank the supers by the same squared-distance
    * sequence (v zero-padded past n, the flat kernel's truncation
    * semantics), scan the member cells of the SUPER_PROBE nearest
    * NON-EMPTY supers (distance ASC, super id ASC ties), and return the
    * exact best of the scanned set — the flat kernel's IEEE sequence and
    * lowest-index tie-break over a pruned candidate list. Degenerate
    * rankings (all-NaN super distances) fall back to the flat scan.
    */
  private def computeHier(v: Array[Double], n: Int, dvv: Double, dim: Int,
                          k: Int, cent: Array[Double], cn: Array[Double],
                          ix: CentroidIndex): Any = {
    val nS = ix.nSup
    val sup = ix.supCent
    val p = CentroidIndex.SUPER_PROBE
    // top-p non-empty supers by (d ASC, s ASC) — bounded insertion
    val selS = new Array[Int](p)
    val selD = new Array[Double](p)
    var nSel = 0
    var s = 0
    while (s < nS) {
      if (ix.memberStart(s) < ix.memberStart(s + 1)) {
        var dvs = 0d
        var t = 0
        while (t < n) { dvs += v(t) * sup(s * dim + t); t += 1 }
        val d = (dvv - 2d * dvs) + ix.supNorm2(s)
        if (!(d >= 0d) && !(d < 0d)) {
          // NaN super distance: ranking undefined — flat scan
          return flatScan(v, n, dvv, dim, k, cent, cn)
        }
        var pos = nSel
        while (pos > 0 && d < selD(pos - 1)) pos -= 1
        if (pos < p) {
          val last = if (nSel < p) nSel else p - 1
          var i = last
          while (i > pos) { selD(i) = selD(i - 1); selS(i) = selS(i - 1); i -= 1 }
          selD(pos) = d
          selS(pos) = s
          if (nSel < p) nSel += 1
        }
      }
      s += 1
    }
    var bestJ = -1
    var bestD = 0d
    var si = 0
    while (si < nSel) {
      var m = ix.memberStart(selS(si))
      val end = ix.memberStart(selS(si) + 1)
      while (m < end) {
        val j = ix.memberIdx(m)
        var dvc = 0d
        var t = 0
        while (t < n) { dvc += v(t) * cent(j * dim + t); t += 1 }
        val d = (dvv - 2d * dvc) + cn(j)
        if (bestJ < 0 || d < bestD || (d == bestD && j < bestJ)) { bestJ = j; bestD = d }
        m += 1
      }
      si += 1
    }
    if (bestJ < 0) return flatScan(v, n, dvv, dim, k, cent, cn)
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](bestJ, bestD))
  }
}

object VectorFunctions {
  /** `vec_dot(a, b)` as a Column — strict fold dot product, codegen'd. */
  def vecDot(a: Column, b: Column): Column =
    ColumnBridge.column(DotProduct(ColumnBridge.expression(a), ColumnBridge.expression(b)))

  /** Squared L2 norm as a Column (dot of a vector with itself). */
  def vecNorm2(a: Column): Column = vecDot(a, a)

  /** Element-wise array-sum aggregate Column over `dim`-element vectors. */
  def vecSum(a: Column, dim: Int): Column =
    ColumnBridge.column(
      VectorSumAgg(ColumnBridge.expression(a), dim).toAggregateExpression())

  /** PQ code word (`ARRAY<INT>` of length m) for a `dim`-element vector
    * against a driver-trained flattened codebook (m × k × dim/m doubles).
    */
  def pqEncode(v: Column, dim: Int, m: Int, k: Int, codebook: Array[Double]): Column =
    ColumnBridge.column(PqEncode(ColumnBridge.expression(v), dim, m, k, codebook))

  /** `v − reconstruct(codes)` against the stage-1 codebook in one fused
    * kernel (ARRAY<DOUBLE> of length dim) — the residual-PQ stage-2 input.
    */
  def pqResidual(v: Column, codes: Column, dim: Int, m: Int, k: Int,
                 codebook: Array[Double]): Column =
    ColumnBridge.column(PqResidual(ColumnBridge.expression(v),
      ColumnBridge.expression(codes), dim, m, k, codebook))

  /** `R · v` for a baked d×d rotation matrix (row-major doubles). */
  def rotateVec(v: Column, dim: Int, matrix: Array[Double]): Column =
    ColumnBridge.column(RotateVec(ColumnBridge.expression(v), dim, matrix))

  /** `struct(cluster, dist)` of the nearest of the trained centroids
    * (row-major k×dim doubles) — the fused k-means assignment. The
    * matrix is broadcast here (train-once, driver-side), never plan
    * state.
    */
  def nearestCentroid(v: Column, dim: Int, cent: Array[Double]): Column =
    ColumnBridge.column(NearestCentroid(ColumnBridge.expression(v),
      CentroidBundle.broadcast(cent, dim)))

  /** `ARRAY<INT>` of the `nProbe` best cell labels by floored cosine —
    * the fused multi-probe assignment ([[TopProbeLabels]]). Centroids
    * broadcast, as above.
    */
  def topProbeLabels(v: Column, dim: Int, labels: Array[Int],
                     cents: Array[Double], nProbe: Int): Column =
    ColumnBridge.column(TopProbeLabels(ColumnBridge.expression(v),
      CentroidBundle.broadcast(cents, dim, labels), nProbe))

  /** Two-level variant: super ranking prunes the cell ranking
    * ([[TopProbeLabelsHier]]). Both matrices broadcast, as above.
    */
  def topProbeLabelsHier(v: Column, dim: Int, supCents: Array[Double],
                         cellLabels: Array[Int], cellSup: Array[Int],
                         cellCents: Array[Double], nProbe: Int, superProbe: Int): Column =
    ColumnBridge.column(TopProbeLabelsHier(ColumnBridge.expression(v),
      HierBundle.broadcast(supCents, cellLabels, cellSup, cellCents, dim),
      nProbe, superProbe))
}

package graft.functions

import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, IntegerType}

/** Fused multi-probe cell assignment for the kNN-join family
  * (reference workload: the IVF coarse quantizer behind HoloChatStats'
  * pgvector highlight search, `web/api.py:3009`, applied to the kNN
  * graph build): for each of the C baked cell centroids, compute the
  * 6-floored cosine to the input vector and return the labels of the
  * `nProbe` best cells (cosine DESC, label ASC — the exact struct-sort
  * order of the unrolled `array_sort(array(struct(-cos, lbl)...))`
  * formulation this expression replaces).
  *
  * Why an expression and not the unrolled array-of-structs projection:
  * the unrolled form materializes ONE literal expression node per cell,
  * each carrying a dim-length double literal — at the FAISS cell regime
  * (C = 2^12..2^16) that is a ~10^6-literal plan whose analysis time
  * grows with C and whose per-row evaluation is interpreted (HOFs have
  * no codegen and no CSE). Here the centroid matrix rides along as ONE
  * codegen reference object (the [[NearestCentroid]] pattern) and the
  * scoring is a tight compiled O(C·dim) loop with an O(nProbe)
  * insertion buffer — plan size O(1) in C.
  *
  * Bit-exactness contract with the unrolled form (DedupVectorsSpec keeps
  * that formulation and pins every row's probe list against it):
  *  - each dot is the strict ascending fold of [[DotProduct]]
  *    (`acc += v_i * q_i` from 0), centroid self-dots precomputed with
  *    the same fold;
  *  - cosine = dot(c,q) / (sqrt(dot(c,c)) * sqrt(dot(q,q))), the exact
  *    IEEE sequence of `cosTo`;
  *  - the 6-decimal floor replicates Spark's `floor(x*1e6)/1e6` INCLUDING
  *    the DoubleType Floor's `(long)` cast (NaN floors to 0, ±Inf to
  *    ±Long.Max/1e6 — reachable only with ANSI off: under ANSI a
  *    zero-norm vector throws DIVIDE_BY_ZERO in the downstream join
  *    cosine on either probe path, so zero vectors are outside the
  *    operator contract);
  *  - score comparison replicates Spark's SQL double ordering
  *    (`a == b ? 0 : Double.compare(a, b)` — -0.0 ties +0.0, NaN sorts
  *    last i.e. worst);
  *  - a null ELEMENT anywhere in the vector nulls `dot(q,q)` and with it
  *    every cell's score, so ranking degenerates to label ASC — the
  *    unrolled form's null-struct-field sort. A null VECTOR nulls the
  *    whole expression (standard null propagation); callers restore the
  *    unrolled form's all-null-scores result with a `coalesce` fallback
  *    literal (lowest-`nProbe` labels).
  *
  * `labels`/`cents` must be sorted by label ascending (the collect in
  * `Vectors.centroidTable` guarantees it); ties then break to the
  * lower index = lower label.
  */
case class TopProbeLabels(child: Expression,
                          bc: org.apache.spark.broadcast.Broadcast[CentroidBundle],
                          nProbe: Int)
    extends UnaryExpression {

  require(nProbe > 0, "nProbe must be positive")

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(DoubleType | org.apache.spark.sql.types.FloatType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"top_probe_labels requires ARRAY<FLOAT|DOUBLE>, got ${other.catalogString}")
    }

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "top_probe_labels"

  private lazy val isFloat: Boolean =
    child.dataType.asInstanceOf[ArrayType].elementType == org.apache.spark.sql.types.FloatType

  /** Labels + matrix + |c_j|² self-dots + the two-level index, as a
    * BROADCAST handle ([[CentroidBundle]]) — the task binary is O(1) in
    * C and the bundle deserializes once per executor. The bundle's index
    * is null below [[CentroidIndex.hierMin]] (the gate regime: bit-exact
    * flat scan); at index-active C the kernel delegates to
    * [[ProbeKernel.topProbesHier]] — the #121 hierarchy,
    * O((√C + C/√C)·dim) per row. See [[CentroidIndex]].
    */
  @transient private lazy val b: CentroidBundle = bc.value

  override def nullSafeEval(v: Any): Any =
    ProbeKernel.topProbes(v.asInstanceOf[ArrayData], isFloat, b.dim, b.n,
      b.labels, b.cent, b.norm2, nProbe, b.index)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val bcRef = ctx.addReferenceObj("tplBc", bc,
      classOf[org.apache.spark.broadcast.Broadcast[_]].getName)
    val bundle = ctx.addMutableState("graft.functions.CentroidBundle", "tplBundle")
    nullSafeCodeGen(ctx, ev, c =>
      s"""if ($bundle == null) { $bundle = (graft.functions.CentroidBundle) $bcRef.value(); }
         |${ev.value} = graft.functions.ProbeKernel.topProbes($c, $isFloat, $bundle.dim(), $bundle.n(), $bundle.labels(), $bundle.cent(), $bundle.norm2(), $nProbe, $bundle.index());
         |""".stripMargin)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Two-level (hierarchical) sibling of [[TopProbeLabels]]: rank the S
  * super-centroids first, keep the `superProbe` best super ids, then
  * rank ONLY the member cells of those supers and return the `nProbe`
  * best cell labels — the FAISS-style IVF coarse-quantizer hierarchy
  * that bounds per-row cost at O((S + superProbe·C/S)·dim) instead of
  * O(C·dim). Same bit-exactness contract as the flat expression at BOTH
  * ranking stages (floored cosines, sid/label ASC tie-breaks, SQL double
  * ordering, null-element degeneration to index-ASC ranking).
  */
case class TopProbeLabelsHier(child: Expression,
                              bc: org.apache.spark.broadcast.Broadcast[HierBundle],
                              nProbe: Int, superProbe: Int)
    extends UnaryExpression {

  require(nProbe > 0 && superProbe > 0, "probe counts must be positive")

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(DoubleType | org.apache.spark.sql.types.FloatType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"top_probe_labels_hier requires ARRAY<FLOAT|DOUBLE>, got ${other.catalogString}")
    }

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "top_probe_labels_hier"

  private lazy val isFloat: Boolean =
    child.dataType.asInstanceOf[ArrayType].elementType == org.apache.spark.sql.types.FloatType

  /** Both trained matrices + derived arrays as ONE broadcast handle
    * ([[HierBundle]]) — same task-binary rationale as [[TopProbeLabels]].
    */
  @transient private lazy val b: HierBundle = bc.value

  override def nullSafeEval(v: Any): Any =
    ProbeKernel.topProbesHier(v.asInstanceOf[ArrayData], isFloat, b.dim,
      b.nS, b.supCents, b.snorm, b.nC, b.cellLabels, b.cellSup, b.cellCents,
      b.cnorm, nProbe, superProbe)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val bcRef = ctx.addReferenceObj("tphBc", bc,
      classOf[org.apache.spark.broadcast.Broadcast[_]].getName)
    val bundle = ctx.addMutableState("graft.functions.HierBundle", "tphBundle")
    nullSafeCodeGen(ctx, ev, c =>
      s"""if ($bundle == null) { $bundle = (graft.functions.HierBundle) $bcRef.value(); }
         |${ev.value} = graft.functions.ProbeKernel.topProbesHier($c, $isFloat, $bundle.dim(), $bundle.nS(), $bundle.supCents(), $bundle.snorm(), $bundle.nC(), $bundle.cellLabels(), $bundle.cellSup(), $bundle.cellCents(), $bundle.cnorm(), $nProbe, $superProbe);
         |""".stripMargin)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Shared interpreted/codegen kernels for the probe-assignment
  * expressions. All loops are the strict IEEE sequences documented on
  * [[TopProbeLabels]].
  */
object ProbeKernel {

  /** Strict-fold self-dot per row of a flat row-major matrix. */
  def selfDots(m: Array[Double], dim: Int, n: Int): Array[Double] =
    Array.tabulate(n) { j =>
      var acc = 0d
      var i = 0
      while (i < dim) { val x = m(j * dim + i); acc += x * x; i += 1 }
      acc
    }

  /** Spark SQL double ordering: -0.0 ties +0.0, NaN equal to NaN and
    * greater than everything else (SQLOrderingUtil.compareDoubles).
    */
  private def cmpD(a: Double, b: Double): Int =
    if (a == b) 0 else java.lang.Double.compare(a, b)

  /** Spark's `floor(x * 1e6) / 1e6` on DoubleType — Floor casts through
    * `(long)`, so NaN → 0.0 and ±Inf → ±Long.Max/1e6, matching the
    * unrolled plan exactly.
    */
  private def fl6(x: Double): Double = Math.floor(x * 1e6).toLong / 1e6

  /** Widen the vector, returning null if ANY element is null (a null
    * element nulls dot(q,q) and with it every cosine in the plan).
    */
  private def widen(arr: ArrayData, isFloat: Boolean): Array[Double] = {
    val len = arr.numElements()
    val q = new Array[Double](len)
    var i = 0
    while (i < len) {
      if (arr.isNullAt(i)) return null
      q(i) = if (isFloat) arr.getFloat(i).toDouble else arr.getDouble(i)
      i += 1
    }
    q
  }

  /** -floored-cosine of row `j` of matrix `m` against `q` (negated so
    * ascending comparison = cosine DESC, the unrolled struct order).
    */
  private def negScore(m: Array[Double], norm: Array[Double], j: Int, dim: Int,
                       q: Array[Double], sq: Double): Double = {
    val n = if (q.length < dim) q.length else dim
    val base = j * dim
    var dvq = 0d
    var i = 0
    while (i < n) { dvq += m(base + i) * q(i); i += 1 }
    -fl6(dvq / (Math.sqrt(norm(j)) * sq))
  }

  /** Bounded insertion of (score, idx) into parallel arrays sorted by
    * (score ASC via SQL double ordering, idx ASC); returns new size.
    */
  private def insertTop(bufS: Array[Double], bufI: Array[Int], size: Int, cap: Int,
                        s: Double, idx: Int): Int = {
    var pos = size
    // idx only ever ARRIVES ascending, so a tie never displaces
    while (pos > 0 && cmpD(s, bufS(pos - 1)) < 0) pos -= 1
    if (pos >= cap) return size
    val last = if (size < cap) size else cap - 1
    var i = last
    while (i > pos) { bufS(i) = bufS(i - 1); bufI(i) = bufI(i - 1); i -= 1 }
    bufS(pos) = s
    bufI(pos) = idx
    if (size < cap) size + 1 else size
  }

  def topProbes(arr: ArrayData, isFloat: Boolean, dim: Int, nC: Int,
                labels: Array[Int], cents: Array[Double], cnorm: Array[Double],
                nProbe: Int, ix: CentroidIndex): ArrayData = {
    val p = if (nProbe < nC) nProbe else nC
    val q = widen(arr, isFloat)
    if (q == null) {
      // all scores null → ranking degenerates to label ASC (= index ASC)
      return org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
        .fromPrimitiveArray(java.util.Arrays.copyOfRange(labels, 0, p))
    }
    var qq = 0d
    var i = 0
    while (i < q.length) { qq += q(i) * q(i); i += 1 }
    val sq = Math.sqrt(qq)
    val bufS = new Array[Double](p)
    val bufI = new Array[Int](p)
    var size = 0
    // two-level path only on the well-conditioned corpus (finite positive
    // norm, no zero-norm cell); degenerate rows keep the flat loop's
    // exact behavior. Delegation to [[topProbesHier]] makes this the SAME
    // kernel (and the same determinism/approximation contract) as the
    // explicit #121 hierarchical operator.
    if (ix != null && ix.cosineSafe && java.lang.Double.isFinite(qq) && sq > 0d) {
      return topProbesHier(arr, isFloat, dim, ix.nSup, ix.supCent, ix.supNorm2,
        nC, labels, ix.cellSup, cents, cnorm, nProbe, CentroidIndex.SUPER_PROBE)
    }
    var j = 0
    while (j < nC) {
      size = insertTop(bufS, bufI, size, p, negScore(cents, cnorm, j, dim, q, sq), j)
      j += 1
    }
    val out = new Array[Int](size)
    i = 0
    while (i < size) { out(i) = labels(bufI(i)); i += 1 }
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray(out)
  }

  def topProbesHier(arr: ArrayData, isFloat: Boolean, dim: Int,
                    nS: Int, supCents: Array[Double], snorm: Array[Double],
                    nC: Int, labels: Array[Int], cellSup: Array[Int],
                    cellCents: Array[Double], cnorm: Array[Double],
                    nProbe: Int, superProbe: Int): ArrayData = {
    val sp = if (superProbe < nS) superProbe else nS
    val q = widen(arr, isFloat)
    // stage 1: superProbe best super ids (ASC-by-(score, sid))
    val supI = new Array[Int](sp)
    if (q == null) {
      var j = 0
      while (j < sp) { supI(j) = j; j += 1 }
      // stage 2 degenerate: member cells of supers {0..sp-1}, label ASC
      val out = new Array[Int](if (nProbe < nC) nProbe else nC)
      var k = 0
      var c = 0
      while (c < nC && k < out.length) {
        if (cellSup(c) < sp) { out(k) = labels(c); k += 1 }
        c += 1
      }
      return org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
        .fromPrimitiveArray(java.util.Arrays.copyOfRange(out, 0, k))
    }
    var qq = 0d
    var i = 0
    while (i < q.length) { qq += q(i) * q(i); i += 1 }
    val sq = Math.sqrt(qq)
    val supS = new Array[Double](sp)
    var sSize = 0
    var j = 0
    while (j < nS) {
      sSize = insertTop(supS, supI, sSize, sp, negScore(supCents, snorm, j, dim, q, sq), j)
      j += 1
    }
    // stage 2: rank only member cells of the chosen supers. Membership is
    // an O(1) boolean-table lookup per cell (O(nS) setup) — a linear scan
    // of supI per cell would cost O(nC·superProbe) comparisons and eat
    // the O((S + superProbe·C/S)·dim) bound the hierarchy exists for.
    val chosenSup = new Array[Boolean](nS)
    var t = 0
    while (t < sSize) { chosenSup(supI(t)) = true; t += 1 }
    val p = if (nProbe < nC) nProbe else nC
    val bufS = new Array[Double](p)
    val bufI = new Array[Int](p)
    var size = 0
    var c = 0
    while (c < nC) {
      if (chosenSup(cellSup(c))) {
        size = insertTop(bufS, bufI, size, p, negScore(cellCents, cnorm, c, dim, q, sq), c)
      }
      c += 1
    }
    val out = new Array[Int](size)
    i = 0
    while (i < size) { out(i) = labels(bufI(i)); i += 1 }
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray(out)
  }
}

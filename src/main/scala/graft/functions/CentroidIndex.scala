package graft.functions

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.SparkSession

/** Two-level coarse quantizer over a flat row-major centroid matrix —
  * the deploy-scale acceleration behind [[NearestCentroid]] and
  * [[TopProbeLabels]] at FAISS cell counts (reference workload: the IVF
  * coarse quantizer behind HoloChatStats' pgvector highlight search,
  * `web/api.py:3009`, whose cell count grows with the corpus).
  *
  * The flat kernels scan all C centroids per row — O(C·dim), the
  * measured super-linearity of the geometry-blocked graph family once
  * `Vectors.autoGeoCells` sizes C to the corpus (the round-9 table in
  * `git show d1c0210:SCALING.md`). This index groups the C centroids
  * under S = ceil(√C) super-centroids (a driver-side Lloyd over the
  * centroid matrix itself — C points, so O(C^1.5·dim) once per expression
  * instantiation) and the kernels then rank the S supers first and scan
  * ONLY the member cells of the [[SUPER_PROBE]] best — the
  * [[TopProbeLabelsHier]] (#121) design applied engine-wide, per-row
  * cost O((√C + SUPER_PROBE·C/√C)·dim).
  *
  * APPROXIMATION CONTRACT — the FAISS coarse-quantizer trade, stated
  * plainly: a cell whose super was pruned is never scanned, so at
  * index-active cell counts (C ≥ [[hierMin]]) the assignment may differ
  * from the flat scan on points near super boundaries (an EXACT
  * triangle-inequality pruned variant was built and measured first:
  * at dim 64 distance concentration gives the bounds no pruning power,
  * and the sized-labels soak REGRESSED — r10 measurement; approximate
  * two-level is what survives at scale, exactly as #121 documents for
  * probe assignment). What IS guaranteed, and what HierIndexSpec pins:
  *
  *  - determinism: super training has fixed init (first S centroids),
  *    fixed passes, lowest-index tie-breaks; per-row scans are pure
  *    functions of the row — partitioning-independent, rerun-stable;
  *  - within-scan exactness: every scanned centroid goes through the
  *    IDENTICAL strict IEEE sequence as the flat kernel, with the same
  *    lowest-index/label tie-breaks — the result is the exact best of
  *    the scanned set (on separated clusters it equals the flat scan);
  *  - the GATE path is bit-exact by construction: every oracle-checked
  *    entry trains at fixed kCells = 8 < hierMin, so the DuckDB
  *    unrolled-Lloyd twins replay the flat kernel unchanged — the
  *    hierarchy engages only at deploy-sized cell counts, where the
  *    blocking is the documented approximation to begin with.
  */
final class CentroidIndex(
    val dim: Int,
    val nSup: Int,
    val supCent: Array[Double], // nSup×dim row-major super-centroids
    val supNorm2: Array[Double], // |s|² per super (plain fold)
    val memberStart: Array[Int], // CSR offsets, length nSup+1
    val memberIdx: Array[Int], // centroid indices grouped by super
    val cellSup: Array[Int], // centroid index → super id (inverse of CSR)
    val cosineSafe: Boolean // all centroid norms > 0 (cosine kernels divide by them)
) extends Serializable

object CentroidIndex {

  /** Centroid count below which the flat scan stays (S + 2·C/S ≈ C at
    * C = 64, and — the correctness half — every gate entry's fixed
    * kCells=8 trains far below it, keeping the oracle path bit-exact).
    * Test hook: HierIndexSpec raises it to MaxValue to build flat twins.
    */
  @volatile var hierMin: Int = 64

  /** Supers scanned per row — the #121 default (`superProbe = 2`). */
  val SUPER_PROBE: Int = 2

  /** Centroid count above which the super-Lloyd DISTRIBUTES (r11): the
    * driver fold costs 5 passes × C^1.5 × dim multiply-adds — fine to
    * ~2^15, a minute-class stall past 2^17. Above this threshold the
    * assignment step runs as a Spark job over the centroid set (the
    * centroids broadcast once; per-pass cost C·√C·dim spread over the
    * cluster) with FIXED-POINT partial sums (Long adds are associative-
    * commutative, so the reduce order Spark doesn't guarantee cannot
    * perturb the result — the same trick the corpus k-means oracle uses
    * for its centroid sums). The distributed build is therefore exactly
    * as deterministic as the driver fold (HierIndexSpec pins rebuild
    * equality), though its supers differ from the driver fold's by the
    * quantization — legal under the index's approximation contract, and
    * unreachable below the threshold, so every sub-threshold result
    * (including the whole gate) is byte-identical to r10. Falls back to
    * the driver fold when no session is active. Test hook (like
    * [[hierMin]]): specs lower it to force the distributed path on
    * small matrices.
    */
  @volatile var distMin: Int = 1 << 15

  /** Fixed-point scale for the distributed partial sums: 2^20 units per
    * 1.0 keeps |x| < 2^43 overflow-free even when millions of centroids
    * land in one super, at ~1e-6 quantization — far below the distance
    * contrasts the super RANKING discriminates (and irrelevant to
    * correctness either way: scanned cells go through the exact kernel).
    */
  private val FP_SCALE = 1L << 20

  /** Build the index, or null when the flat scan is the right kernel:
    * C below [[hierMin]] or any non-finite centroid coordinate. A
    * zero-norm centroid clears [[CentroidIndex.cosineSafe]] instead —
    * the distance kernel ([[NearestCentroid]]) is well-defined there,
    * while the cosine kernels (which divide by member norms) fall back
    * to the flat scan's exact degenerate behavior.
    */
  def buildOrNull(cent: Array[Double], dim: Int, k: Int): CentroidIndex = {
    if (k < hierMin || dim <= 0) return null
    var i = 0
    while (i < cent.length) {
      if (!java.lang.Double.isFinite(cent(i))) return null
      i += 1
    }
    val nS = math.max(1, math.ceil(math.sqrt(k.toDouble)).toInt)
    // Lloyd over the k centroids: init = first nS, 4 fixed refinement
    // passes, lowest-index tie-breaks — deterministic either way, so the
    // assignment (and with it every downstream result) is rerun-stable.
    val sup = java.util.Arrays.copyOfRange(cent, 0, nS * dim)
    val assign =
      if (k >= distMin && SparkSession.getActiveSession.isDefined)
        distributedLloyd(cent, dim, k, nS, sup)
      else driverLloyd(cent, dim, k, nS, sup)
    // CSR member lists (ascending centroid index within each super)
    val start = new Array[Int](nS + 1)
    var j = 0
    while (j < k) { start(assign(j) + 1) += 1; j += 1 }
    var s = 0
    while (s < nS) { start(s + 1) += start(s); s += 1 }
    val fill = java.util.Arrays.copyOf(start, nS)
    val members = new Array[Int](k)
    j = 0
    while (j < k) { members(fill(assign(j))) = j; fill(assign(j)) += 1; j += 1 }
    var cosSafe = true
    j = 0
    while (j < k && cosSafe) {
      var n2 = 0d
      var t = 0
      while (t < dim) { val cv = cent(j * dim + t); n2 += cv * cv; t += 1 }
      if (!(n2 > 0d)) cosSafe = false
      j += 1
    }
    val sn2 = new Array[Double](nS)
    s = 0
    while (s < nS) {
      var acc = 0d
      var t = 0
      while (t < dim) { val x = sup(s * dim + t); acc += x * x; t += 1 }
      sn2(s) = acc
      s += 1
    }
    new CentroidIndex(dim, nS, sup, sn2, start, members, assign, cosSafe)
  }

  /** Nearest super by squared L2, lowest index on ties — the shared
    * per-centroid scan of both Lloyd variants (identical IEEE sequence
    * to the r10 inline loop).
    */
  private def nearestSup(cent: Array[Double], j: Int, dim: Int, nS: Int,
                         sup: Array[Double]): Int = {
    var best = -1
    var bestD = 0d
    var s = 0
    while (s < nS) {
      var d = 0d
      var t = 0
      while (t < dim) {
        val x = cent(j * dim + t) - sup(s * dim + t)
        d += x * x
        t += 1
      }
      if (best < 0 || d < bestD) { best = s; bestD = d }
      s += 1
    }
    best
  }

  /** The r10 driver fold, unchanged semantics: 4 refinement passes
    * mutating `sup` in place, returning the pass-5 assignment.
    */
  private def driverLloyd(cent: Array[Double], dim: Int, k: Int, nS: Int,
                          sup: Array[Double]): Array[Int] = {
    val assign = new Array[Int](k)
    var pass = 0
    while (pass < 5) {
      var j = 0
      while (j < k) {
        assign(j) = nearestSup(cent, j, dim, nS, sup)
        j += 1
      }
      if (pass < 4) {
        val sums = new Array[Double](nS * dim)
        val cnt = new Array[Int](nS)
        j = 0
        while (j < k) {
          val s = assign(j)
          cnt(s) += 1
          var t = 0
          while (t < dim) { sums(s * dim + t) += cent(j * dim + t); t += 1 }
          j += 1
        }
        var s = 0
        while (s < nS) {
          if (cnt(s) > 0) {
            var t = 0
            while (t < dim) { sup(s * dim + t) = sums(s * dim + t) / cnt(s); t += 1 }
          }
          s += 1
        }
      }
      pass += 1
    }
    assign
  }

  /** Spark-parallel super-training for C ≥ [[distMin]] (see there): the
    * same init / pass count / tie-breaks, with the per-pass assignment
    * scan (the C·√C·dim term that bound the driver fold) run as a job
    * over the centroid set — centroids broadcast once, supers re-broadcast
    * per pass (√C·dim doubles) — and the refinement sums accumulated in
    * FIXED POINT ([[FP_SCALE]]) so Spark's unordered partition reduce
    * cannot perturb the refined supers: determinism by algebra, not by
    * ordering. The final assignment is pure per-centroid work, collected
    * and re-ordered by index.
    */
  private def distributedLloyd(cent: Array[Double], dim: Int, k: Int, nS: Int,
                               sup: Array[Double]): Array[Int] = {
    val sc = SparkSession.active.sparkContext
    val centBc = sc.broadcast(cent)
    val parts = math.max(1, math.min(sc.defaultParallelism * 4, k / 256))
    val ids = sc.parallelize(0 until k, parts)
    var assign: Array[Int] = null
    var pass = 0
    while (pass < 5) {
      val supBc = sc.broadcast(java.util.Arrays.copyOf(sup, sup.length))
      if (pass < 4) {
        val (sums, cnt) = ids.mapPartitions { it =>
          val c = centBc.value
          val sp = supBc.value
          val ls = new Array[Long](nS * dim)
          val lc = new Array[Long](nS)
          it.foreach { j =>
            val s = nearestSup(c, j, dim, nS, sp)
            lc(s) += 1
            var t = 0
            while (t < dim) { ls(s * dim + t) += math.round(c(j * dim + t) * FP_SCALE); t += 1 }
          }
          Iterator((ls, lc))
        }.reduce { (a, b) =>
          var i = 0
          while (i < a._1.length) { a._1(i) += b._1(i); i += 1 }
          i = 0
          while (i < a._2.length) { a._2(i) += b._2(i); i += 1 }
          a
        }
        var s = 0
        while (s < nS) {
          if (cnt(s) > 0) {
            var t = 0
            while (t < dim) {
              sup(s * dim + t) = (sums(s * dim + t).toDouble / FP_SCALE) / cnt(s)
              t += 1
            }
          }
          s += 1
        }
      } else {
        assign = ids.mapPartitions { it =>
          val c = centBc.value
          val sp = supBc.value
          it.map(j => (j, nearestSup(c, j, dim, nS, sp)))
        }.collect().sortBy(_._1).map(_._2)
      }
      supBc.unpersist(blocking = false)
      pass += 1
    }
    centBc.unpersist(blocking = false)
    assign
  }
}

/** The trained constants of a flat centroid kernel — matrix, self-dots
  * and the two-level index — shipped to executors as ONE broadcast
  * variable instead of codegen reference objects riding every task
  * binary (the r9 Bloom-filter fix, [[BloomContainsLong]], applied to
  * the centroid family): the task binary carries only the broadcast
  * handle, the matrix ships once per EXECUTOR through the broadcast
  * manager, and the derived structures deserialize once, cached by the
  * broadcast block manager. This is what lifts the 2^14 cell cap on
  * [[graft.operators.Vectors]]`.autoGeoCells` — at deploy cell counts
  * (10⁹-vector corpora want ~10⁵ cells × dim doubles ≈ 10⁸ bytes) a plan
  * literal would re-fatten every task binary of the geo/kNN/IVF family.
  *
  * Everything here is built EAGERLY on the driver (one serialization,
  * zero per-executor rebuild): `norm2` is the strict ascending self-dot
  * fold the flat kernels compare against, `index` the deterministic
  * two-level quantizer (null below [[CentroidIndex.hierMin]], so the
  * gate's fixed kCells = 8 path stays bit-exact on the flat scan).
  * `labels` is the probe family's cell→label map (null for the k-means
  * assignment kernel, whose "label" is the centroid index itself).
  */
final class CentroidBundle(
    val dim: Int,
    val n: Int,
    val cent: Array[Double],
    val labels: Array[Int],
    val norm2: Array[Double],
    val index: CentroidIndex
) extends Serializable

object CentroidBundle {
  def build(cent: Array[Double], dim: Int, labels: Array[Int] = null): CentroidBundle = {
    require(dim > 0 && cent.nonEmpty && cent.length % dim == 0,
      s"centroid matrix must be a non-empty multiple of dim=$dim doubles, got ${cent.length}")
    val n = cent.length / dim
    require(labels == null || labels.length == n,
      s"labels must map every centroid: ${if (labels == null) -1 else labels.length} vs $n")
    new CentroidBundle(dim, n, cent, labels, ProbeKernel.selfDots(cent, dim, n),
      CentroidIndex.buildOrNull(cent, dim, n))
  }

  /** Build + broadcast in one step (driver-side, at Column construction —
    * the train-once seam where the matrix is already a driver array).
    */
  def broadcast(cent: Array[Double], dim: Int, labels: Array[Int] = null): Broadcast[CentroidBundle] =
    SparkSession.active.sparkContext.broadcast(build(cent, dim, labels))
}

/** [[CentroidBundle]]'s two-matrix sibling for the explicit #121
  * hierarchy ([[TopProbeLabelsHier]]): driver-trained super-centroids,
  * the cell→super map and the cell matrix, with both self-dot arrays
  * precomputed on the driver. Same broadcast rationale.
  */
final class HierBundle(
    val dim: Int,
    val nS: Int,
    val supCents: Array[Double],
    val snorm: Array[Double],
    val nC: Int,
    val cellLabels: Array[Int],
    val cellSup: Array[Int],
    val cellCents: Array[Double],
    val cnorm: Array[Double]
) extends Serializable

object HierBundle {
  def build(supCents: Array[Double], cellLabels: Array[Int], cellSup: Array[Int],
            cellCents: Array[Double], dim: Int): HierBundle = {
    require(dim > 0 && cellLabels.nonEmpty && cellCents.length == cellLabels.length * dim,
      s"cell matrix must be cellLabels.length*dim doubles")
    require(supCents.nonEmpty && supCents.length % dim == 0,
      "super matrix must be S*dim doubles")
    require(cellSup.length == cellLabels.length, "cellSup must map every cell")
    val nS = supCents.length / dim
    val nC = cellLabels.length
    new HierBundle(dim, nS, supCents, ProbeKernel.selfDots(supCents, dim, nS),
      nC, cellLabels, cellSup, cellCents, ProbeKernel.selfDots(cellCents, dim, nC))
  }

  def broadcast(supCents: Array[Double], cellLabels: Array[Int], cellSup: Array[Int],
                cellCents: Array[Double], dim: Int): Broadcast[HierBundle] =
    SparkSession.active.sparkContext.broadcast(
      build(supCents, cellLabels, cellSup, cellCents, dim))
}

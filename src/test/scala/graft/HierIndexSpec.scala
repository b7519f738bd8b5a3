package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.functions.{CentroidIndex, ProbeKernel, VectorFunctions}

/** The two-level coarse-quantizer contract of
  * [[graft.functions.CentroidIndex]] (the #121 hierarchy applied
  * engine-wide at deploy cell counts):
  *  - the GATE regime (C < hierMin) builds no index — bit-exact flat scan;
  *  - determinism: rerun-identical output on identical input;
  *  - within-scan exactness: the returned value is the flat kernel's
  *    exact IEEE argmin over the members of the SUPER_PROBE nearest
  *    supers (a driver model re-derives the scan set from the index);
  *  - on separated clusters the two-level result EQUALS the flat scan
  *    (the approximation only bites on super-boundary straddlers);
  *  - the probe kernel delegates to the SAME topProbesHier kernel as the
  *    explicit #121 operator — one hierarchy semantics engine-wide;
  *  - the trained matrix ships as a broadcast, so the plan (and with it
  *    every task binary) stays small at the old 2^14-cell cap.
  */
class HierIndexSpec extends SparkSpec {

  private def sample[A](g: Gen[A], n: Int): Seq[A] = {
    val seed0 = Seed(0x41E57EE1L)
    (0 until n).map(i => g.pureApply(Gen.Parameters.default, seed0.reseed(i.toLong)))
  }

  private def flatNearest(v: Array[Double], dim: Int, k: Int, cent: Array[Double]): (Int, Double) = {
    val cn = ProbeKernel.selfDots(cent, dim, k)
    val r = graft.functions.NearestCentroid
      .compute(UnsafeArrayData.fromPrimitiveArray(v), false, dim, k, cent, cn)
      .asInstanceOf[org.apache.spark.sql.catalyst.InternalRow]
    (r.getInt(0), r.getDouble(1))
  }

  private def hierNearest(v: Array[Double], dim: Int, k: Int, cent: Array[Double],
                          ix: CentroidIndex): (Int, Double) = {
    val cn = ProbeKernel.selfDots(cent, dim, k)
    val r = graft.functions.NearestCentroid
      .compute(UnsafeArrayData.fromPrimitiveArray(v), false, dim, k, cent, cn, ix)
      .asInstanceOf[org.apache.spark.sql.catalyst.InternalRow]
    (r.getInt(0), r.getDouble(1))
  }

  /** Driver model of the two-level scan: rank non-empty supers by
    * (squared distance ASC, id ASC), take SUPER_PROBE, exact argmin over
    * their members with the lowest-index tie-break.
    */
  private def modelNearest(v: Array[Double], dim: Int, cent: Array[Double],
                           ix: CentroidIndex): (Int, Double) = {
    def d2(m: Array[Double], off: Int): Double = {
      var dvv = 0d; var dvc = 0d; var cc = 0d
      var t = 0
      while (t < dim) {
        dvv += v(t) * v(t); dvc += v(t) * m(off + t); cc += m(off + t) * m(off + t)
        t += 1
      }
      (dvv - 2d * dvc) + cc
    }
    val supers = (0 until ix.nSup)
      .filter(s => ix.memberStart(s) < ix.memberStart(s + 1))
      .sortBy(s => (d2(ix.supCent, s * dim), s))
      .take(CentroidIndex.SUPER_PROBE)
    val cands = supers.flatMap(s =>
      (ix.memberStart(s) until ix.memberStart(s + 1)).map(ix.memberIdx))
    cands.map(j => (d2(cent, j * dim), j)).minBy(identity) match {
      case (d, j) => (j, d)
    }
  }

  test("gate regime: C < hierMin builds no index; C >= hierMin builds a partition") {
    assert(CentroidIndex.buildOrNull(Array.fill(8 * 4)(1d), 4, 8) == null)
    assert(CentroidIndex.buildOrNull(Array.fill(63 * 4)(1d), 4, 63) == null)
    assert(CentroidIndex.buildOrNull(
      Array.tabulate(64 * 4)(i => if (i == 17) Double.NaN else 1d), 4, 64) == null)
    val cent = sample(Gen.listOfN(4, Gen.chooseNum(-9.0, 9.0)), 100).flatten.toArray
    val ix = CentroidIndex.buildOrNull(cent, 4, 100)
    assert(ix != null)
    assert(ix.memberIdx.sorted.toSeq == (0 until 100), "every centroid in exactly one super")
    (0 until ix.nSup).foreach { s =>
      (ix.memberStart(s) until ix.memberStart(s + 1)).foreach { m =>
        assert(ix.cellSup(ix.memberIdx(m)) == s, "cellSup must invert the CSR")
      }
    }
    // zero-norm centroid: distance index kept, cosine kernels flagged flat
    val zeroRow = Array.tabulate(64 * 4)(i => if (i / 4 == 20) 0d else 1d)
    val ixZ = CentroidIndex.buildOrNull(zeroRow, 4, 64)
    assert(ixZ != null && !ixZ.cosineSafe)
    assert(CentroidIndex.buildOrNull(Array.fill(64 * 4)(1d), 4, 64).cosineSafe)
  }

  test("two-level nearest-centroid == the SUPER_PROBE-scan model; deterministic") {
    val dim = 16
    val k = 200
    val coord: Gen[Double] = Gen.chooseNum(-100.0, 100.0)
    val cent = sample(Gen.listOfN(dim, coord), k).flatten.toArray
    val ix = CentroidIndex.buildOrNull(cent, dim, k)
    assert(ix != null)
    val vecs = sample(Gen.listOfN(dim, coord), 400).map(_.toArray)
    vecs.foreach { v =>
      val got = hierNearest(v, dim, k, cent, ix)
      assert(got == modelNearest(v, dim, cent, ix), s"scan-set mismatch for v=${v.toSeq}")
      assert(got == hierNearest(v, dim, k, cent, ix), "non-deterministic")
      // the scanned best can never beat the flat best (same sequence)
      assert(got._2 >= flatNearest(v, dim, k, cent)._2)
    }
    // a rebuilt index over the same matrix is identical (deterministic train)
    val ix2 = CentroidIndex.buildOrNull(cent, dim, k)
    assert(ix2.supCent.toSeq == ix.supCent.toSeq && ix2.memberIdx.toSeq == ix.memberIdx.toSeq)
  }

  test("separated clusters: two-level == flat scan (interpreted + codegen paths)") {
    val dim = 8
    // 16 groups of 8 centroids, group centers 1000 apart, spread 1 —
    // supers align with groups, so no query near a centroid straddles
    val groups = sample(Gen.listOfN(dim, Gen.chooseNum(-0.5, 0.5)), 128).zipWithIndex
    val cent = groups.flatMap { case (jit, i) =>
      val base = (i / 8) * 1000.0
      jit.map(_ + base)
    }.toArray
    val k = 128
    val ix = CentroidIndex.buildOrNull(cent, dim, k)
    assert(ix != null)
    val vecs = groups.map { case (jit, i) =>
      val base = (i / 8) * 1000.0
      jit.map(_ + base + 0.01).toArray
    }
    vecs.foreach { v =>
      assert(hierNearest(v, dim, k, cent, ix) == flatNearest(v, dim, k, cent))
    }
    // whole-stage codegen path agrees with the interpreted kernel
    val schema = StructType(Seq(StructField("v", ArrayType(DoubleType, containsNull = false))))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(vecs.map(v => Row(v.toSeq)), 4), schema)
    val got = df.select(VectorFunctions.nearestCentroid(col("v"), dim, cent).as("nc"))
      .select(col("nc.cluster"), col("nc.dist")).collect()
    got.zip(vecs).foreach { case (r, v) =>
      assert((r.getInt(0), r.getDouble(1)) == flatNearest(v, dim, k, cent))
    }
  }

  test("probe kernel at index-active C delegates to the #121 topProbesHier semantics") {
    val dim = 16
    val k = 150
    val coord: Gen[Double] = Gen.chooseNum(1.0, 50.0) // positive norms
    val cent = sample(Gen.listOfN(dim, coord), k).flatten.toArray
    val labels = Array.tabulate(k)(j => j * 3 + 1)
    val ix = CentroidIndex.buildOrNull(cent, dim, k)
    assert(ix != null && ix.cosineSafe)
    val cn = ProbeKernel.selfDots(cent, dim, k)
    val vecs = sample(Gen.listOfN(dim, coord), 300).map(_.toArray)
    vecs.foreach { v =>
      val arr = UnsafeArrayData.fromPrimitiveArray(v)
      val viaIndex = ProbeKernel.topProbes(arr, false, dim, k, labels, cent, cn, 3, ix)
        .toIntArray().toSeq
      val viaHier = ProbeKernel.topProbesHier(arr, false, dim, ix.nSup, ix.supCent,
        ProbeKernel.selfDots(ix.supCent, dim, ix.nSup), k, labels, ix.cellSup, cent, cn,
        3, CentroidIndex.SUPER_PROBE).toIntArray().toSeq
      assert(viaIndex == viaHier, s"delegation mismatch for v=${v.toSeq}")
    }
    // below the threshold the flat loop is untouched
    val small = cent.take(32 * dim)
    val gotFlat = ProbeKernel.topProbes(UnsafeArrayData.fromPrimitiveArray(vecs.head),
      false, dim, 32, labels.take(32), small, ProbeKernel.selfDots(small, dim, 32), 3)
      .toIntArray().toSeq
    assert(gotFlat.size == 3)
  }

  test("knnJoinGeo at an index-active cell count: deterministic, contract-complete graph") {
    val emb = Tables.embeddings(spark, sfDir)
    def run(): Seq[(Long, Long, Double, Long)] =
      graft.operators.Vectors.knnJoinGeo(emb, kCells = 96)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
        .sortBy(t => (t._1, t._4)).toSeq
    val g1 = run()
    val g2 = run()
    assert(g1.nonEmpty && g1 == g2, "geo graph must be rerun-deterministic at hier cell counts")
    g1.groupBy(_._1).foreach { case (a, rows) =>
      val ranks = rows.map(_._4).sorted
      assert(ranks == (1L to ranks.length), s"vec $a ranks not dense")
      assert(ranks.length <= 5)
    }
  }

  test("distributed super-training (C >= distMin): rebuild-identical, partition-complete, same scan contract") {
    val dim = 16
    val k = 300
    val coord: Gen[Double] = Gen.chooseNum(-50.0, 50.0)
    val cent = sample(Gen.listOfN(dim, coord), k).flatten.toArray
    val saved = CentroidIndex.distMin
    try {
      CentroidIndex.distMin = 128 // force the Spark-parallel path
      val ix = CentroidIndex.buildOrNull(cent, dim, k)
      assert(ix != null)
      // fixed-point sums make the unordered partition reduce order-free:
      // a rebuild is bit-identical, not merely close
      val ix2 = CentroidIndex.buildOrNull(cent, dim, k)
      assert(ix2.supCent.toSeq == ix.supCent.toSeq)
      assert(ix2.memberIdx.toSeq == ix.memberIdx.toSeq)
      assert(ix2.memberStart.toSeq == ix.memberStart.toSeq)
      assert(ix.memberIdx.sorted.toSeq == (0 until k), "every centroid in exactly one super")
      (0 until ix.nSup).foreach { s =>
        (ix.memberStart(s) until ix.memberStart(s + 1)).foreach { m =>
          assert(ix.cellSup(ix.memberIdx(m)) == s, "cellSup must invert the CSR")
        }
      }
      // kernel contract unchanged under the distributed index: the exact
      // best of the SUPER_PROBE scan set, never better than the flat best
      val vecs = sample(Gen.listOfN(dim, coord), 200).map(_.toArray)
      vecs.foreach { v =>
        val got = hierNearest(v, dim, k, cent, ix)
        assert(got == modelNearest(v, dim, cent, ix))
        assert(got._2 >= flatNearest(v, dim, k, cent)._2)
      }
      // vs the driver fold: same assignment on this (seeded, well-spread)
      // matrix — the 1e-6-class fixed-point quantization only moves a
      // centroid across a super boundary on a near-exact tie
      CentroidIndex.distMin = Int.MaxValue
      val ixD = CentroidIndex.buildOrNull(cent, dim, k)
      assert(ixD.cellSup.toSeq == ix.cellSup.toSeq,
        "distributed and driver folds disagree beyond quantization")
    } finally CentroidIndex.distMin = saved
  }

  test("2^14 cells x dim 64: the matrix rides a broadcast, not the task binary") {
    val dim = 64
    val k = 1 << 14 // the old cell cap: an 8 MiB centroid matrix
    val rng = new scala.util.Random(0x6E0C311L)
    val cent = Array.fill(k * dim)(rng.nextGaussian())
    val vecs = (0 until 16).map(i => cent.slice(i * dim, (i + 1) * dim))
    val schema = StructType(Seq(StructField("v", ArrayType(DoubleType, containsNull = false))))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(vecs.map(v => Row(v.toSeq)), 2), schema)
      .select(VectorFunctions.nearestCentroid(col("v"), dim, cent).as("nc"))
    assert(df.collect().forall(r => !r.isNullAt(0)))
    val plan = df.queryExecution.executedPlan
    assert(plan.exists(_.expressions.exists(_.exists(_.isInstanceOf[graft.functions.NearestCentroid]))))
    // Spark warns "Broadcasting large task binary" past 1 MiB; the plan a
    // task closure carries must stay under it, which fails if the matrix
    // rode the expression as a literal or a reference object
    val bytes = org.apache.spark.SparkEnv.get.closureSerializer.newInstance().serialize(plan).limit()
    assert(bytes < (1 << 20), s"serialized plan is $bytes bytes")
  }
}

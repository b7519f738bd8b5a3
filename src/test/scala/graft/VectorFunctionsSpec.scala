package graft

import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DoubleType, FloatType}

import graft.functions.{DotProduct, VectorFunctions}
import graft.operators.Vectors

/** Specs for the codegen'd DotProduct expression: bit-for-bit agreement
  * with the interpreted higher-order-function fold it replaced, null/length
  * semantics, and interpreted-eval vs codegen agreement.
  */
class VectorFunctionsSpec extends SparkSpec {

  private lazy val emb = Tables.embeddings(spark, sfDir)

  test("vec_dot equals the interpreted zip_with/aggregate fold bit-for-bit") {
    val asDouble = transform(col("embedding"), x => x.cast("double"))
    val both = emb.select(
      VectorFunctions.vecDot(col("embedding"), col("embedding")).as("fast"),
      aggregate(zip_with(asDouble, asDouble, (x, y) => x * y), lit(0d), (acc, x) => acc + x).as("slow"))
    assert(both.count() > 0)
    assert(both.filter(col("fast") =!= col("slow")).count() == 0)
  }

  test("vec_dot widens mixed float/double inputs like the oracle fold") {
    val q = emb.limit(1).select(transform(col("embedding"), x => x.cast("double")).as("qv"))
    val both = emb.crossJoin(q).select(
      VectorFunctions.vecDot(col("embedding"), col("qv")).as("fast"),
      aggregate(zip_with(transform(col("embedding"), x => x.cast("double")), col("qv"),
        (x, y) => x * y), lit(0d), (acc, x) => acc + x).as("slow"))
    assert(both.filter(col("fast") =!= col("slow")).count() == 0)
  }

  test("vec_dot: null array is null; mismatched lengths fold over the shorter") {
    val df = spark.sql(
      """SELECT CAST(array(1.0, 2.0, 3.0) AS ARRAY<DOUBLE>) AS a,
        |       CAST(array(4.0, 5.0) AS ARRAY<DOUBLE>) AS b,
        |       CAST(NULL AS ARRAY<DOUBLE>) AS n""".stripMargin)
    val r = df.select(
      VectorFunctions.vecDot(col("a"), col("b")).as("d"),
      VectorFunctions.vecDot(col("a"), col("n")).as("nl")).collect()(0)
    assert(r.getDouble(0) == 1.0 * 4.0 + 2.0 * 5.0)
    assert(r.isNullAt(1))
  }

  test("vec_dot: a null ELEMENT propagates null, matching the fold semantics") {
    val r = spark.sql(
      "SELECT array(1.0D, CAST(NULL AS DOUBLE), 3.0D) AS a, array(4.0D, 5.0D, 6.0D) AS b")
      .select(VectorFunctions.vecDot(col("a"), col("b")).as("d")).collect()(0)
    assert(r.isNullAt(0))
  }

  test("vec_dot rejects non-array inputs at analysis time") {
    val err = intercept[Exception] {
      spark.range(1).select(VectorFunctions.vecDot(lit(1), lit(2))).collect()
    }
    assert(err.getMessage.toLowerCase.contains("numeric arrays")
      || err.getMessage.toLowerCase.contains("datatype_mismatch"))
  }

  test("vec_sum: null ELEMENTS are skipped (SQL-SUM per slot), null arrays ignored") {
    val df = spark.sql(
      """SELECT * FROM VALUES
        | (array(1.0D, CAST(NULL AS DOUBLE), 3.0D)),
        | (array(10.0D, 20.0D, CAST(NULL AS DOUBLE))),
        | (CAST(NULL AS ARRAY<DOUBLE>))
        | AS t(v)""".stripMargin)
    val r = df.select(VectorFunctions.vecSum(col("v"), 3).as("s"))
      .collect()(0).getSeq[Double](0)
    assert(r == Seq(11.0, 20.0, 3.0))
  }

  test("vec_sum rejects non-array and decimal-array inputs at analysis time") {
    val err = intercept[Exception] {
      spark.range(1).select(VectorFunctions.vecSum(lit(1), 3)).collect()
    }
    assert(err.getMessage.toLowerCase.contains("numeric array")
      || err.getMessage.toLowerCase.contains("datatype_mismatch"))
  }

  test("interpreted eval path matches the dataframe (codegen) path") {
    val av = Array(1.5f, -2.25f, 3.125f, 0.0f)
    val bv = Array(0.5f, 4.0f, -1.75f, 9.0f)
    val e = DotProduct(
      Literal.create(av.toSeq, ArrayType(FloatType)),
      Literal.create(bv.toSeq, ArrayType(FloatType)))
    val interpreted = e.eval(null).asInstanceOf[Double]
    var expected = 0d
    av.indices.foreach(i => expected += av(i).toDouble * bv(i).toDouble)
    assert(interpreted == expected)
    val viaDf = spark.range(1).select(
      VectorFunctions.vecDot(
        lit(av).cast(ArrayType(FloatType)),
        lit(bv).cast(ArrayType(FloatType)))).collect()(0).getDouble(0)
    assert(viaDf == expected)
  }

  test("minhash_signature equals the per-perm array_min/transform formulation") {
    import graft.functions.HashFunctions
    val p = 2147483647L
    val aConsts = (0 until 32).map(i => 7919L * (i + 1) + 13L)
    val bConsts = (0 until 32).map(i => 104729L * (i + 1) + 7L)
    val shs = emb.select(col("vec_id"),
      transform(col("embedding"), x => abs(hash(x)).cast("long")).as("shs"))
    // compare element-wise on the same rows
    val rows = shs.select(
      HashFunctions.minhashSignature(col("shs"), aConsts, bConsts, p).as("sig") +:
      (0 until 32).map(i =>
        array_min(transform(col("shs"), s => ((s % p) * aConsts(i) + bConsts(i)) % p)).as(s"m$i")): _*)
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val sig = r.getSeq[Long](0)
      (0 until 32).foreach(i => assert(sig(i) == r.getLong(i + 1)))
    }
  }

  test("vec_sum aggregate equals the posexplode formulation across partitions") {
    // repartition forces multiple partial buffers -> serialize + merge path
    val viaAgg = emb.repartition(7).groupBy("label")
      .agg(VectorFunctions.vecSum(col("embedding"), 64).as("sv"))
    val viaExplode = emb
      .select(col("label"), posexplode(col("embedding")).as(Seq("pos", "v")))
      .groupBy("label", "pos").agg(sum(col("v").cast("double")).as("s"))
      .groupBy("label")
      .agg(transform(sort_array(collect_list(struct(col("pos"), col("s")))),
        x => x.getField("s")).as("sv2"))
    val joined = viaAgg.join(viaExplode, "label").collect()
    assert(joined.nonEmpty)
    joined.foreach { r =>
      val a = r.getSeq[Double](1)
      val b = r.getSeq[Double](2)
      assert(a.length == 64 && b.length == 64)
      a.zip(b).foreach { case (x, y) =>
        assert(math.abs(x - y) <= 1e-9 * math.max(1.0, math.abs(y)),
          s"label ${r.get(0)}: $x vs $y")
      }
    }
  }

  test("vec_norm2 is the self dot product") {
    val both = emb.select(
      VectorFunctions.vecNorm2(col("embedding")).as("n2"),
      VectorFunctions.vecDot(col("embedding"), col("embedding")).as("d"))
    assert(both.filter(col("n2") =!= col("d")).count() == 0)
  }

  test("top_probe_labels: interpreted eval matches codegen, ties break label-asc") {
    import graft.functions.TopProbeLabels
    val dim = 4
    val labels = Array(3, 7, 11)
    // c0 = e0, c1 = e1, c2 = e2: vector (1,1,0,0) ties c0 and c1 at
    // cos = 1/sqrt(2) and scores 0 on c2 → labels [3, 7] at nProbe=2
    val cents = Array.tabulate(3 * dim)(i => if (i / dim == i % dim) 1.0 else 0.0)
    val v = Seq(1.0f, 1.0f, 0.0f, 0.0f)
    val bc = graft.functions.CentroidBundle.broadcast(cents, dim, labels)
    val e = TopProbeLabels(
      Literal.create(v, ArrayType(FloatType)), bc, nProbe = 2)
    val interpreted = e.eval(null).asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    assert(interpreted.toIntArray().toSeq == Seq(3, 7))
    val viaDf = spark.range(1).select(
      VectorFunctions.topProbeLabels(
        lit(v.toArray).cast(ArrayType(FloatType)), dim, labels, cents, 2).as("p"))
      .collect()(0).getSeq[Int](0)
    assert(viaDf == Seq(3, 7))
    // nProbe above C returns all cells, best-first
    val all = TopProbeLabels(
      Literal.create(Seq(0.0f, 0.0f, 1.0f, 0.0f), ArrayType(FloatType)),
      bc, nProbe = 9)
      .eval(null).asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    assert(all.toIntArray().toSeq == Seq(11, 3, 7))
    // a null ELEMENT degenerates ranking to label-asc (dot(q,q) is null
    // in the unrolled plan, nulling every cell's score)
    val degen = TopProbeLabels(
      Literal.create(Seq[java.lang.Float](1.0f, null, 0.0f, 0.0f), ArrayType(FloatType)),
      bc, nProbe = 2)
      .eval(null).asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    assert(degen.toIntArray().toSeq == Seq(3, 7))
  }

  test("pq_encode ≡ the driver-side encode on the spec corpus (m=8 and m=4)") {
    // the kernel ranks by |c|² − 2·v·c, the driver by Σ(v − c)²: the same
    // argmin in exact arithmetic, so the two may only split near-ties
    // differently — none does on this corpus
    val valid = emb.filter(Vectors.kmValid)
    for (m <- Seq(8, 4)) {
      val cb = Vectors.trainPq(emb, 0L, m = m, codebookK = 16, sampleN = 256).get.cb
      val rows = valid.select(col("embedding"),
          VectorFunctions.pqEncode(col("embedding"), 64, m, 16, cb).as("c"))
        .collect()
      assert(rows.length == 500)
      val differ = rows.count { r =>
        val v = r.getSeq[Float](0).map(_.toDouble).toArray
        Vectors.pqEncodeLocal(v, cb, 64, m, 16).toSeq != r.getSeq[Int](1)
      }
      assert(differ == 0, s"m=$m: $differ of ${rows.length} rows encode differently")
    }
  }
}

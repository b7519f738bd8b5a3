package graft

import org.apache.spark.sql.DataFrame

import graft.operators.Vectors

/** Behavioral spec for the corpus-wide distributed k-means (#109) — the
  * oracle pins Spark/DuckDB bit-equality; this pins the clustering
  * SEMANTICS: planted well-separated groups are recovered exactly, the
  * operator is deterministic, the Lloyd objective never increases with
  * more iterations, and degenerate inputs (k > n, invalid rows) behave.
  */
class KmeansSpec extends SparkSpec {

  private val dim = 64

  /** Three well-separated centers with small deterministic jitter. */
  private def planted: DataFrame = {
    val s = spark
    import s.implicits._
    val centers = Array(
      Array.fill(dim)(0f),
      Array.fill(dim)(5f),
      Array.tabulate(dim)(d => if (d % 2 == 0) 10f else -10f))
    (0 until 90).map { i =>
      val g = i % 3
      val v = centers(g).zipWithIndex.map { case (c, d) =>
        c + 0.01f * ((i * 31 + d * 7) % 11 - 5)
      }
      (i.toLong, v.toSeq)
    }.toDF("vec_id", "embedding")
  }

  private def assignments(df: DataFrame, k: Int, iters: Int): Map[Long, Int] =
    Vectors.clusterKmeans(df, k, iters).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap

  test("recovers planted well-separated clusters exactly") {
    val a = assignments(planted, k = 3, iters = 5)
    assert(a.size == 90)
    // same planted group → same cluster; different groups → different
    val byGroup = a.groupBy(_._1 % 3).map { case (g, m) => g -> m.values.toSet }
    byGroup.foreach { case (g, cs) => assert(cs.size == 1, s"group $g split across $cs") }
    assert(byGroup.values.flatten.toSet.size == 3)
  }

  test("deterministic: identical assignments and distances across runs") {
    val r1 = Vectors.clusterKmeans(planted, 3, 3).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getDouble(2))).sortBy(_._1)
    val r2 = Vectors.clusterKmeans(planted, 3, 3).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getDouble(2))).sortBy(_._1)
    assert(r1.toSeq == r2.toSeq)
  }

  test("Lloyd objective is non-increasing in the iteration count") {
    def obj(iters: Int): Double =
      Vectors.clusterKmeans(planted, 3, iters).collect().map(_.getDouble(2)).sum
    val objs = (1 to 4).map(obj)
    objs.sliding(2).foreach { case Seq(a, b) => assert(b <= a + 1e-6, s"objective rose: $objs") }
  }

  test("k larger than the corpus: every vector is its own (init) cluster") {
    val s = spark
    import s.implicits._
    val tiny = Seq(
      (0L, Seq.fill(dim)(0f)),
      (1L, Seq.fill(dim)(9f))).toDF("vec_id", "embedding")
    val a = assignments(tiny, k = 8, iters = 2)
    assert(a == Map(0L -> 0, 1L -> 1))
  }

  test("clusterSample: per-cluster balance, determinism, quota >= size keeps all") {
    // quota far above any cluster size → identity sample (threshold rate 1)
    val all = Vectors.clusterSample(planted, k = 3, iters = 3, quota = 1000L)
      .collect().map(r => (r.getInt(0), r.getLong(1)))
    assert(all.length == 90)

    // small quota → every cluster still represented, none dominates, and
    // the sample is a subset of the cluster's own members
    val asg = assignments(planted, 3, 3)
    val s1 = Vectors.clusterSample(planted, 3, 3, quota = 10L)
      .collect().map(r => (r.getInt(0), r.getLong(1)))
    val s2 = Vectors.clusterSample(planted, 3, 3, quota = 10L)
      .collect().map(r => (r.getInt(0), r.getLong(1)))
    assert(s1.sortBy(_._2).toSeq == s2.sortBy(_._2).toSeq)
    assert(s1.length < 90 && s1.nonEmpty)
    s1.foreach { case (c, id) => assert(asg(id) == c) }
    val perCluster = s1.groupBy(_._1).view.mapValues(_.length)
    assert(perCluster.size == 3, s"cluster dropped entirely: $perCluster")
    // binomial around quota=10 out of 30 members: far below the full 30
    perCluster.values.foreach(n => assert(n <= 25, s"no downsampling: $perCluster"))
  }

  test("incremental state maintenance: any split merges bit-exactly to the monolithic build") {
    import org.apache.spark.sql.functions.{col, lit, pmod}
    val cent = Vectors.trainCentroids(planted, 3, 3)
    def collectState(df: org.apache.spark.sql.DataFrame) =
      Vectors.kmeansStateExploded(df).collect()
        .map(r => (r.getInt(0), r.getInt(1), r.getLong(2), r.getLong(3))).sortBy(t => (t._1, t._2))

    val mono = collectState(Vectors.kmeansState(planted, cent))
    // two-way split
    val even = planted.filter(pmod(col("vec_id"), lit(2)) === 0)
    val odd = planted.filter(pmod(col("vec_id"), lit(2)) === 1)
    val two = collectState(Vectors.mergeKmeansState(
      Vectors.kmeansState(even, cent), Vectors.kmeansState(odd, cent)))
    assert(two.toSeq == mono.toSeq)
    // three-way split, merged associatively in a different order
    val parts = (0 until 3).map(i => planted.filter(pmod(col("vec_id"), lit(3)) === i))
    val three = collectState(Vectors.mergeKmeansState(
      Vectors.kmeansState(parts(2), cent),
      Vectors.mergeKmeansState(Vectors.kmeansState(parts(0), cent),
        Vectors.kmeansState(parts(1), cent))))
    assert(three.toSeq == mono.toSeq)
    // the maintained state recovers usable centroids: assigning against
    // them reproduces the planted partition
    val rec = Vectors.centroidsOf(Vectors.kmeansState(planted, cent), cent)
    val a = Vectors.clusterKmeans(planted, 3, 3).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val viaRec = Vectors.assignClusters(planted, rec)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(viaRec == a, "state-recovered centroids must reproduce the assignment")
    // empty-cluster invariant: state missing a cluster keeps the FROZEN
    // centroid, never a zero-vector phantom
    val partial = Vectors.kmeansState(planted.filter(col("vec_id") < 2), cent)
    val rec2 = Vectors.centroidsOf(partial, cent)
    (0 until 3).foreach { j =>
      if (!partial.collect().map(_.getInt(0)).contains(j))
        assert(rec2(j).sameElements(cent(j)), s"empty cluster $j lost its frozen centroid")
    }
  }

  test("centroidsOf fails loudly on a state with more clusters than frozen centroids") {
    import org.apache.spark.sql.functions.{col, lit, typedLit}
    val cent = Vectors.trainCentroids(planted, 3, 3)
    // cluster ids 0..3: one row past frozen.length, the bound of the collect
    val state = spark.range(cent.length + 1L).select(col("id").cast("int").as("cluster"),
      typedLit(Seq.fill(dim)(0d)).as("sv"), lit(1L).as("n"))
    val e = intercept[IllegalArgumentException](Vectors.centroidsOf(state, cent))
    assert(e.getMessage.contains("centroidsOf") && e.getMessage.contains(s"frozen.length = ${cent.length}"),
      e.getMessage)
  }

  test("Checks.boundedCollect: rows up to the bound pass, one more fails naming site and bound") {
    import graft.operators.Checks
    assert(Checks.boundedCollect(spark.range(3).toDF(), 3, "three ids").length == 3)
    val e = intercept[IllegalArgumentException](Checks.boundedCollect(spark.range(4).toDF(), 3, "three ids"))
    assert(e.getMessage.contains("three ids: more than 3 rows"), e.getMessage)
  }

  test("k-means‖ init: deterministic, same output contract as the static init") {
    val a = Vectors.clusterKmeansPar(planted, k = 3, iters = 5).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getDouble(2))).sortBy(_._1)
    val b = Vectors.clusterKmeansPar(planted, k = 3, iters = 5).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getDouble(2))).sortBy(_._1)
    assert(a.nonEmpty && a.sameElements(b))
    assert(a.map(_._2).distinct.length == 3)
  }

  test("k-means‖ init survives cluster-ordered ids where lowest-id seeding collapses") {
    // ids BLOCK-ordered by group: ids 0..39 are all in blob 0, so the
    // static init seeds every centroid inside one blob — the exact
    // failure k-means‖'s cost-proportional oversampling exists to avoid.
    val s = spark
    import s.implicits._
    val centers = Array.tabulate(4)(g => Array.tabulate(dim)(d => if (d == g) 40f else 0f))
    val blocked = (0 until 160).map { i =>
      val g = i / 40
      val v = centers(g).zipWithIndex.map { case (c, d) => c + 0.01f * ((i * 31 + d * 7) % 11 - 5) }
      (i.toLong, v.toSeq)
    }.toDF("vec_id", "embedding")
    def cost(df: DataFrame): Double = df.agg(org.apache.spark.sql.functions.sum("dist"))
      .collect()(0).getDouble(0)
    val parCost = cost(Vectors.clusterKmeansPar(blocked, k = 4, iters = 5))
    val idCost = cost(Vectors.clusterKmeans(blocked, k = 4, iters = 5))
    // par finds all four blobs (cost ~ jitter); lowest-id leaves >= 2 blobs
    // merged under one centroid (cost ~ blob separation, 1600 per point)
    assert(parCost < idCost / 10, s"par=$parCost id=$idCost")
    val parClusters = Vectors.clusterKmeansPar(blocked, k = 4, iters = 5)
      .select("cluster").distinct().count()
    assert(parClusters == 4)
  }

  test("k-means‖ init: empty corpus yields the empty typed result") {
    val s = spark
    import s.implicits._
    val empty = Seq.empty[(Long, Seq[Float])].toDF("vec_id", "embedding")
    val out = Vectors.clusterKmeansPar(empty, k = 4, iters = 3)
    assert(out.count() == 0)
    assert(out.columns.toSeq == Seq("vec_id", "cluster", "dist"))
  }

  test("invalid rows (null / wrong-length / null-element embeddings) are dropped") {
    val s = spark
    import s.implicits._
    val mixed = Seq(
      (0L, Some(Seq.fill(dim)(Option(1f)))),
      (1L, None),
      (2L, Some(Seq.fill(3)(Option(1f)))),
      (3L, Some((None: Option[Float]) :: List.fill(dim - 1)(Option(2f))))
    ).toDF("vec_id", "embedding")
    val out = Vectors.clusterKmeans(mixed, k = 2, iters = 1).collect()
    assert(out.map(_.getLong(0)).toSet == Set(0L))
  }
}

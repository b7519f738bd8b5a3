package graft

import org.apache.spark.sql.functions._

import graft.operators.{Dedup, Sizing, Vectors}

/** Composes the one-call deploy sizing (operators.Sizing) with the
  * operators it feeds, on the spec corpus — the "sizing at deploy"
  * recipe `git show d1c0210:SCALING.md` documents, exercised end to end
  * instead of each tuner in isolation.
  */
class SizingSpec extends SparkSpec {

  private lazy val docs = Fixtures.plantedDocs(Tables.documents(spark, sfDir))
  private lazy val emb = Tables.embeddings(spark, sfDir)

  test("Sizing.forCorpus agrees with the individual tuners") {
    val sized = Sizing.forCorpus(docs, emb)
    assert(sized.jaccardCap == Dedup.autoJaccardCap(docs, minJaccard = 0.3))
    assert((sized.bands, sized.rows) == Dedup.minhashBanding(0.7))
    assert(sized.geoCells == Vectors.autoGeoCells(emb, nProbe = 2))
    // the registered gate constants are inside what the sizing derives:
    // banding at the operator's own threshold reproduces the 8x4 literal
    assert((sized.bands, sized.rows) == (8, 4))
    assert(sized.jaccardCap >= 1L && sized.geoCells >= 1)
  }

  test("clusterConf: the documented shuffle/scan/broadcast arithmetic") {
    // 10 TiB on 1000 executors × 8 cores: shuffle partitions = bytes per
    // 128 MiB block (81920, above the 2-waves floor of 16000)
    val big = Sizing.clusterConf(10L << 40, totalCores = 8000)
    assert(big("spark.sql.shuffle.partitions") == ((10L << 40) / (128L << 20)).toString)
    assert(big("spark.sql.adaptive.advisoryPartitionSizeInBytes") == (64L << 20).toString)
    // scan split clamps at the 256 MiB ceiling (10 TiB / 16000 waves > 256 MiB)
    assert(big("spark.sql.files.maxPartitionBytes") == (256L << 20).toString)
    // 5% of the default 4 GiB per-core memory, under the 256 MiB cap
    assert(big("spark.sql.autoBroadcastJoinThreshold") == ((4L << 30) / 20).toString)
    // tiny corpus on 32 cores: the 2-waves floor wins, scan split floors at 16 MiB
    val small = Sizing.clusterConf(100L << 20, totalCores = 32)
    assert(small("spark.sql.shuffle.partitions") == "64")
    assert(small("spark.sql.files.maxPartitionBytes") == (16L << 20).toString)
    // forCorpus carries the conf, sized from the session's parallelism
    val sized = Sizing.forCorpus(docs, emb)
    assert(sized.conf.keySet == big.keySet)
    assert(sized.conf("spark.sql.shuffle.partitions").toLong >=
      2L * spark.sparkContext.defaultParallelism)
  }

  test("clusterConf ships the deploy engine keys; spreadCores resolves the pinned width") {
    val conf = Sizing.clusterConf(10L << 40, totalCores = 8000)
    // cached-MV partitioning must track AQE's advisory size at any corpus
    // (r11's measured -46% suite CPU setting); a deploy consuming the
    // library gets it from this map, not just the harness mains
    assert(conf("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning") == "true")
    // the fan-out width for tiny-bytes/huge-CPU spreads is pinned to the
    // fleet, not plan-build-time defaultParallelism
    assert(conf("spark.graft.spread.cores") == "8000")
    // unset -> session defaultParallelism (the local default every bench
    // plan was measured with)
    assert(Sizing.spreadCores(spark) == spark.sparkContext.defaultParallelism)
    spark.conf.set("spark.graft.spread.cores", "12345")
    try assert(Sizing.spreadCores(spark) == 12345)
    finally spark.conf.unset("spark.graft.spread.cores")
    spark.conf.set("spark.graft.spread.cores", "bogus")
    try intercept[IllegalArgumentException](Sizing.spreadCores(spark))
    finally spark.conf.unset("spark.graft.spread.cores")
  }

  test("sized Jaccard cap composes with ngramJaccard at zero loss on this corpus") {
    val sized = Sizing.forCorpus(docs, emb)
    val exhaustive = Dedup.ngramJaccard(docs).collect().map(_.toSeq).toSet
    val capped = Dedup.ngramJaccard(docs, maxDf = Some(sized.jaccardCap))
      .collect().map(_.toSeq).toSet
    // autoJaccardCap's guarantee: at the computed cap, candidate pruning
    // loses NO pair at or above the threshold — full output identity
    assert(capped == exhaustive,
      s"capped output diverged at cap=${sized.jaccardCap}: " +
        s"${(exhaustive -- capped).take(3)} lost, ${(capped -- exhaustive).take(3)} gained")
    assert(exhaustive.nonEmpty, "corpus must have near-dup pairs for this test to bite")
  }

  test("sized geo cell count composes with knnJoinGeo: complete, deterministic graph") {
    val sized = Sizing.forCorpus(docs, emb)
    val g1 = Vectors.knnJoinGeo(emb, kCells = sized.geoCells).collect()
    val g2 = Vectors.knnJoinGeo(emb, kCells = sized.geoCells).collect()
    assert(g1.map(_.toSeq).toSet == g2.map(_.toSeq).toSet, "geo graph must be deterministic")
    assert(g1.nonEmpty)
    // per-vector contract: nn_rank dense from 1, at most k edges
    g1.groupBy(_.getLong(0)).foreach { case (a, rows) =>
      val ranks = rows.map(_.getLong(3)).sorted.toSeq
      assert(ranks == (1L to ranks.length), s"vec $a ranks not dense: $ranks")
      assert(ranks.length <= 5, s"vec $a has ${ranks.length} > k edges")
    }
  }
}

package graft

/** Physical-plan regression audit over EVERY query in the suite (plans are
  * built, not executed). Pins the scale-design invariants SURVEY §4/§8
  * claims: no sort-merge joins (every join is broadcast or map-side), no
  * cartesian products, and the flagship narrow plans stay narrow.
  */
class PlanAuditSpec extends SparkSpec {

  // d_dedup_clusters is excluded: constructing it RUNS the iterative
  // propagation (eager per-superstep checkpoints), and its final plan is a
  // scan over checkpointed data — auditing that string would be both slow
  // and vacuous. Its inner building blocks (minhash) are audited directly.
  private lazy val plans: Map[String, String] =
    (SparkEntry.queries - "d_dedup_clusters").map { case (name, fn) =>
      name -> fn(spark, sfDir).queryExecution.executedPlan.toString
    }

  test("no SortMergeJoin anywhere in the suite") {
    val offenders = plans.filter(_._2.contains("SortMergeJoin")).keys.toSeq.sorted
    assert(offenders.isEmpty, s"SortMergeJoin crept into: ${offenders.mkString(", ")}")
  }

  test("no CartesianProduct anywhere in the suite") {
    val offenders = plans.filter(_._2.contains("CartesianProduct")).keys.toSeq.sorted
    assert(offenders.isEmpty, s"CartesianProduct crept into: ${offenders.mkString(", ")}")
  }

  test("text suite stays a single narrow scan (zero exchanges)") {
    val textQueries = plans.keys.filter(_.startsWith("t_"))
    assert(textQueries.nonEmpty)
    textQueries.foreach { q =>
      assert(!plans(q).contains("Exchange"), s"$q gained a shuffle")
    }
  }

  test("brute-force ANN and filtered vector search are shuffle-free") {
    Seq("v_ann_topk", "q_search_highlights").foreach { q =>
      val shuffles = plans(q).linesIterator
        .count(l => l.contains("Exchange") && !l.contains("Broadcast") && !l.contains("Reused"))
      assert(shuffles == 0, s"$q gained a data shuffle:\n${plans(q)}")
    }
  }

  test("sketch matrix: broadcast pair join over sketch aggregates, no rollup self-join") {
    val p = plans("q_common_users_matrix_approx")
    assert(p.contains("BroadcastHashJoin"), "pair join must be broadcast")
    assert(p.contains("hll_sketch_agg"), "must aggregate sketches, not rows")
    // the only data exchanges are the (channel, week) sketch aggregations —
    // a user-keyed rollup self-join would add user_id exchanges
    val userKeyed = p.linesIterator
      .count(l => l.contains("Exchange hashpartitioning") && l.contains("user_id"))
    assert(userKeyed == 0, s"sketch matrix gained a user-keyed exchange:\n$p")
  }

  private def dataExchanges(p: String): Int =
    p.linesIterator.count(l =>
      l.contains("Exchange") && !l.contains("Broadcast") && !l.contains("Reused"))

  test("k-means family: in-row assignment, bounded exchanges, pushed cell filter") {
    // final assignment is a pure projection (training jobs already ran at
    // plan-build time): no data exchange in the OUTPUT plan
    assert(dataExchanges(plans("v_cluster_kmeans")) == 0,
      s"k-means assignment gained a shuffle:\n${plans("v_cluster_kmeans")}")
    // cluster sampling adds only the k-row count aggregate's exchange and
    // consumes it via a broadcast join
    val cs = plans("v_cluster_sample")
    assert(cs.contains("BroadcastHashJoin"), "cluster-count join must be broadcast")
    assert(dataExchanges(cs) <= 2, s"cluster sample gained shuffles:\n$cs")
    // streaming drift twin: the single windowed-count aggregation
    assert(dataExchanges(plans("s_stream_cluster")) <= 1,
      s"drift monitor gained shuffles:\n${plans("s_stream_cluster")}")
  }

  test("ivf-pq: probed-cell filter reaches the scan; cell relation is broadcast") {
    val p = plans("v_ann_ivfpq")
    assert(p.contains("BroadcastHashJoin"), "probed-cells join must be broadcast")
    val scanLines = p.linesIterator.filter(l =>
      l.contains("PushedFilters") || l.contains("DataFilters")).mkString("\n")
    assert(scanLines.contains("label"),
      s"label probe filter did not reach the scan:\n$p")
    assert(dataExchanges(p) == 0, s"ivf-pq gained a data shuffle:\n$p")
  }

  test("corpus shuffle: exactly one hash exchange (the shard partitioning)") {
    assert(dataExchanges(plans("p_shuffle_shards")) == 1,
      s"shuffleShards must shuffle exactly once:\n${plans("p_shuffle_shards")}")
  }

  test("dim joins are broadcast in the hours suite") {
    Seq("q_hours_total", "q_hours_avg", "q_hours_max", "q_video_highlights").foreach { q =>
      assert(plans(q).contains("BroadcastHashJoin"), s"$q lost its broadcast dim join")
    }
  }

  test("kNN graph maintenance: both invalidation joins broadcast, stored graph not reshuffled") {
    // audit the DEPLOY shape: the stored graph is a materialized relation
    // (at deploy, a label-partitioned table), not the inline rebuild the
    // gate entry uses for its merged-vs-monolithic proof
    import org.apache.spark.sql.functions.col
    val e = Tables.embeddings(spark, sfDir)
    val old = e.filter(col("vec_id") % 10 < 8)
    val delta = e.filter(col("vec_id") % 10 >= 8)
    val built = graft.operators.Vectors.knnGraph(old)
    val stored = spark.createDataFrame(
      spark.sparkContext.parallelize(built.collect().toIndexedSeq), built.schema)
    val p = graft.operators.Vectors.knnGraphIncrement(stored, old, delta)
      .queryExecution.executedPlan.toString
    // both invalidation filters are in-row isin literals (the touched
    // label set is a bounded collect) — no join against the stored graph,
    // no label exchange anywhere; at deploy the kept-edge filter is
    // partition pruning on the graph MV's label partition column
    assert(p.contains(" IN ") || p.contains("isin") || p.contains("In("),
      s"invalidation must be an in-row label filter:\n$p")
    assert(!p.contains("LeftAnti") && !p.contains("LeftSemi"),
      s"maintenance must not join the stored graph:\n$p")
    // the only data exchanges belong to the recomputed blocks' own pair
    // join + top-k window — what the monolithic graph pays on that subset;
    // the stored side contributes none
    assert(dataExchanges(p) <= 2, s"graph maintenance gained shuffles:\n$p")
  }

  test("multi-probe family: probe assignment is ONE expression node, not per-cell literals") {
    // the r7 fused TopProbeLabels/-Hier expressions: plan SIZE must not
    // scale with the cell count (the array_sort formulation, now only in
    // DedupVectorsSpec, has one dim-length literal struct per cell)
    Seq("v_knn_join_mp", "v_knn_join_mph", "v_knn_join_geo").foreach { q =>
      val hits = "top_probe_labels".r.findAllIn(plans(q)).size
      assert(hits >= 1, s"$q lost the fused probe expression")
      assert(!plans(q).contains("array_sort"),
        s"$q regressed to the unrolled array_sort probe ranking:\n${plans(q).take(2000)}")
    }
  }
}

package graft

import org.apache.spark.sql.functions._

import graft.operators.{Dedup, Multimodal, Vectors}

/** Invariant specs for the dedup suite, vector search, and multimodal
  * plumbing (oracle equality is covered by Verify + check.py; these pin
  * the algorithmic properties).
  */
class DedupVectorsSpec extends SparkSpec {

  // the planted fixture corpus — operators take it verbatim now that
  // planting lives at the registry/spec boundary (graft.Fixtures)
  private lazy val docs = graft.Fixtures.plantedDocs(Tables.documents(spark, sfDir))
  private lazy val rawDocs = Tables.documents(spark, sfDir)
  private lazy val emb = Tables.embeddings(spark, sfDir)

  test("exact dedup: planted exact duplicates collapse into their source group") {
    val groups = Dedup.dedupExact(docs)
    // every planted copy (doc_id % 25 == 0) must land in a group of >= 2
    val dupGroups = groups.filter(col("n_dups") >= 2).count()
    val planted = rawDocs.filter(col("doc_id") % 25 === 0).count()
    assert(dupGroups == planted)
    // keeper is always the minimum id — the original, never the +2e7 copy
    assert(groups.filter(col("keep_id") >= 20000000L).count() == 0)
  }

  test("minhash finds the high-similarity planted near-duplicate pairs") {
    val pairs = Dedup.dedupMinhash(docs).collect()
    // ground truth from the exact inverted-index join: at true J >= 0.9 an
    // 8x4 LSH misses a pair with prob (1-0.9^4)^8 ~ 1e-4
    val strong = Dedup.ngramJaccard(docs, minJaccard = 0.9)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(strong.nonEmpty)
    val found = pairs.map(r => (r.getLong(0), r.getLong(1))).toSet
    strong.foreach { p => assert(found.contains(p), s"missing near-dup pair $p") }
    pairs.foreach(r => assert(r.getDouble(2) >= 0.7 && r.getDouble(2) <= 1.0))
  }

  test("df-capped ngram jaccard keeps exact scores and near-dup recall") {
    val exact = Dedup.ngramJaccard(docs, minJaccard = 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    // a tight cap prunes most of the index yet every surviving pair must
    // carry the IDENTICAL exact score, and the strong pairs (J >= 0.9
    // share nearly all shingles) must all survive. The cap must exceed the
    // duplicate-CLUSTER size: copies inflate a shingle's df by the cluster
    // cardinality (caught by this test at cap=3 with 4-copy clusters).
    val capped = Dedup.ngramJaccard(docs, minJaccard = 0.3, maxDf = Some(10L))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(capped.nonEmpty)
    capped.foreach { case (pair, j) =>
      assert(exact.get(pair).contains(j), s"capped score differs for $pair")
    }
    val strong = exact.filter(_._2 >= 0.9).keySet
    assert(strong.nonEmpty)
    strong.foreach(p => assert(capped.contains(p), s"capped path lost strong pair $p"))
  }

  test("dedupMinhashIncrement: merged ≡ monolithic; stored pairs pass through, delta probes find cross pairs") {
    val s = spark
    import s.implicits._
    // % 7: the planted copy offsets are ≡ 3/6 mod 7, so the split has
    // genuine CROSS old/delta near-dup pairs (a %10 split would not)
    val old = docs.filter(col("doc_id") % 7 < 5)
    val delta = docs.filter(col("doc_id") % 7 >= 5)
    val mono = Dedup.dedupMinhash(docs).collect().map(_.toSeq).toSet
    val inc = Dedup.dedupMinhashIncrement(
      Dedup.minhashIndex(old), Dedup.dedupMinhash(old), docs, delta)
      .collect().map(_.toSeq).toSet
    assert(inc === mono)
    // the split genuinely exercises the cross path
    assert(mono.exists { p =>
      val (a, b) = (p(0).asInstanceOf[Long], p(1).asInstanceOf[Long])
      (a % 7 < 5) != (b % 7 < 5)
    }, "corpus must contain cross old/delta pairs for this test to bite")
    // sentinel: corrupt every stored pair's jaccard — old–old pairs must
    // pass through verbatim (never re-verified), delta-touching pairs fresh
    val corrupted = Dedup.dedupMinhash(old).withColumn("jaccard", lit(-9.0))
    val deltaIds = delta.select("doc_id").collect().map(_.getLong(0)).toSet
    Dedup.dedupMinhashIncrement(Dedup.minhashIndex(old), corrupted, docs, delta)
      .collect().foreach { r =>
        val touches = deltaIds(r.getLong(0)) || deltaIds(r.getLong(1))
        if (touches) assert(r.getDouble(2) != -9.0, s"delta pair $r must be fresh")
        else assert(r.getDouble(2) == -9.0, s"old pair $r must pass through")
      }
    // a delta near-copy of an old doc is found through the stored index
    val oldDoc = (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu")
    val tiny = Seq(oldDoc, (2L, "completely different words in this other document entirely now")).toDF("doc_id", "text")
    val newCopy = Seq((50L, oldDoc._2)).toDF("doc_id", "text")
    val found = Dedup.dedupMinhashIncrement(
      Dedup.minhashIndex(tiny), Dedup.dedupMinhash(tiny),
      tiny.unionByName(newCopy), newCopy).collect()
    assert(found.exists(r => r.getLong(0) == 1L && r.getLong(1) == 50L && r.getDouble(2) == 1.0),
      s"cross old-delta duplicate must be found: ${found.toSeq}")
  }

  test("increment operators reject a delta that re-ingests stored ids (insert-only contract)") {
    // the contract violation the operators cannot absorb: an id present in
    // the stored state reappearing in the delta (an update, not an
    // insert). With graft.spark.debug.checks armed (SparkSpec sets it),
    // the precondition fails loudly instead of emitting self-pairs /
    // stale-plus-fresh edge mixes.
    val oldDocs = docs.filter(col("doc_id") % 7 < 5)
    val badDelta = docs.filter(col("doc_id") % 7 < 1) // overlaps oldDocs
    val e1 = intercept[IllegalArgumentException] {
      Dedup.dedupMinhashIncrement(
        Dedup.minhashIndex(oldDocs), Dedup.dedupMinhash(oldDocs), docs, badDelta)
    }
    assert(e1.getMessage.contains("insert-only"))
    val oldVecs = emb.filter(col("vec_id") % 10 < 8)
    val badVecs = emb.filter(col("vec_id") % 10 < 2) // overlaps oldVecs
    val e2 = intercept[IllegalArgumentException] {
      Vectors.knnGraphIncrement(Vectors.knnGraph(oldVecs), oldVecs, badVecs)
    }
    assert(e2.getMessage.contains("insert-only"))
  }

  test("dedupClustersIncrement: merged ≡ monolithic; a delta edge merges two old clusters") {
    val s = spark
    import s.implicits._
    // gate shape: stored labels + delta pairs ≡ monolithic clusters
    val old = docs.filter(col("doc_id") % 7 < 5)
    val delta = docs.filter(col("doc_id") % 7 >= 5)
    val inc = Dedup.dedupClustersIncrement(
      Dedup.dedupClusters(old).select("doc_id", "cluster_id"),
      Dedup.minhashDeltaPairs(Dedup.minhashIndex(old), docs, delta),
      docs.select("doc_id")).collect().map(_.toSeq).toSet
    val mono = Dedup.dedupClusters(docs).collect().map(_.toSeq).toSet
    assert(inc === mono)
    // the merge case directly: stored clusters {1,2} and {5,6}, a new
    // edge 2-5 must fuse them under the GLOBAL min (1), and survivors
    // re-derive accordingly
    val stored = Seq((1L, 1L), (2L, 1L), (5L, 5L), (6L, 5L), (9L, 9L)).toDF("doc_id", "cluster_id")
    val newEdge = Seq((2L, 5L)).toDF("doc_a", "doc_b")
    val nodes = Seq(1L, 2L, 5L, 6L, 9L).toDF("doc_id")
    val merged = Dedup.dedupClustersIncrement(stored, newEdge, nodes)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    assert(Seq(1L, 2L, 5L, 6L).forall(merged(_)._1 == 1L), s"clusters must fuse under min: $merged")
    assert(merged(1L)._2 && !merged(5L)._2, "only the global min survives the merge")
    assert(merged(9L) == (9L, true), "untouched singleton keeps its own cluster")
  }

  test("minhashBanding: registered 8x4 is the recall-leaning optimum at t=0.7; tuning tracks the threshold") {
    // the operator's own default threshold reproduces its registered shape
    assert(Dedup.minhashBanding(0.7) == (8, 4))
    // the symmetric weighting would trade recall for precision — but the
    // exact verify already removes every false positive, so the operator
    // registers the recall-leaning shape
    assert(Dedup.minhashBanding(0.7, fpWeight = 0.5) == (4, 8))
    // rows per band grow with the threshold (steeper S-curve, later midpoint)
    val rowsAt = Seq(0.3, 0.5, 0.7, 0.9).map(t => Dedup.minhashBanding(t)._2)
    assert(rowsAt == rowsAt.sorted, s"rows must be monotone in threshold: $rowsAt")
    // the S-curve midpoint (1/b)^(1/r) brackets the target reasonably on
    // every divisor count
    for (t <- Seq(0.4, 0.6, 0.8); perms <- Seq(16, 32, 64)) {
      val (b, r) = Dedup.minhashBanding(t, perms)
      assert(b * r == perms)
      val mid = math.pow(1.0 / b, 1.0 / r)
      assert(math.abs(mid - t) < 0.25, s"t=$t perms=$perms got ($b,$r) midpoint $mid")
    }
    // fp-averse weighting never picks MORE bands than the recall-leaning one
    val (bRec, _) = Dedup.minhashBanding(0.7)
    val (bFp, _) = Dedup.minhashBanding(0.7, fpWeight = 0.9)
    assert(bFp <= bRec)
  }

  test("autoJaccardCap: zero-loss by construction — capped output ≡ exhaustive at the auto cap") {
    val cap = Dedup.autoJaccardCap(docs)
    info(s"auto cap on the planted bench corpus: $cap")
    val exact = Dedup.ngramJaccard(docs, minJaccard = 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val capped = Dedup.ngramJaccard(docs, minJaccard = 0.3, maxDf = Some(cap))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(capped == exact, s"auto cap $cap lost/changed pairs: " +
      s"${(exact.keySet -- capped.keySet).take(5)} / ${(capped.keySet -- exact.keySet).take(5)}")
  }

  test("autoJaccardCap: corpus-hot stopword shingles don't drag the cap up") {
    val s = spark
    import s.implicits._
    // every doc shares a hot stopword prefix (df = corpus size) but keeps
    // a majority of unique tail shingles; one planted near-dup pair. The
    // per-doc statistic reads the RARE end of each doc's df distribution,
    // so the cap stays far below the hot df — the hot shingles get pruned
    // from candidate generation, yet the pair survives via its rare ones.
    val n = 30
    val hot = "in the of and to"
    val rows = (0 until n).map { i =>
      val tail = (0 until 12).map(w => s"w${i}x$w").mkString(" ")
      (i.toLong, s"$hot $tail")
    } :+ (100L, {
      // near-dup of doc 0: same tail minus last word
      val tail = (0 until 11).map(w => s"w0x$w").mkString(" ")
      s"$hot $tail"
    })
    val df = rows.toDF("doc_id", "text")
    val cap = Dedup.autoJaccardCap(df)
    assert(cap < n, s"cap $cap should sit far below the hot df $n")
    val exact = Dedup.ngramJaccard(df, minJaccard = 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val capped = Dedup.ngramJaccard(df, minJaccard = 0.3, maxDf = Some(cap))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(capped == exact)
    assert(capped.contains((0L, 100L)), "planted near-dup pair must survive the cap")
  }

  test("dedup clusters: distributed loop and driver union-find paths agree exactly") {
    val small = Dedup.dedupClusters(docs) // small-graph path at this SF
    val dist = Dedup.dedupClusters(docs, smallGraphEdges = 0L) // force the loop
    assert(small.exceptAll(dist).count() == 0)
    assert(dist.exceptAll(small).count() == 0)
  }

  test("minLabelComponents: pointer jumping converges on a 64-chain well under its diameter") {
    val s = spark
    import s.implicits._
    // path graph 0-1-...-63 (diameter 63) + a separate 3-chain: ONE-hop
    // min-label propagation needs 63 rounds to flood the min to the far
    // end; the pointer jump doubles the closed distance per round, so 12
    // rounds must suffice (it throws on non-convergence, so a cap this
    // low IS the acceleration assertion)
    val pairs = ((0L until 63L).map(i => (i, i + 1)) ++ Seq((100L, 101L), (101L, 102L)))
      .toDF("doc_a", "doc_b")
    val labels = Dedup.minLabelComponents(pairs, maxIterations = 12)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert((0L to 63L).forall(labels(_) == 0L), "chain must collapse to min id 0")
    assert((100L to 102L).forall(labels(_) == 100L), "second component keeps its own min")
    assert(labels.size == 67)
  }

  test("substringOverlap: planted pair shared_runs match an independent gram model") {
    val pairs = Dedup.substringOverlap(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(pairs.nonEmpty)
    // independent model: recompute each planted pair's shared distinct
    // 13-grams from the text in plain Scala (no Spark, no md5 index) —
    // `runs >= 1` alone was tautological (the operator can only emit
    // pairs with >= 1 shared run) and `found.nonEmpty` tolerated losing
    // all but one planted pair
    val texts = docs.select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    def grams(t: String): Set[String] = {
      // Spark's canon: lower + trim(' ' only) + split("\\s+")
      val c = t.dropWhile(_ == ' ').reverse.dropWhile(_ == ' ').reverse
        .toLowerCase(java.util.Locale.ROOT)
      val w = c.split("\\s+")
      if (w.length < 13) Set.empty
      else (0 to w.length - 13).map(i => w.slice(i, i + 13).mkString(" "))
        .filter(_.nonEmpty).toSet
    }
    def checkPlanted(offset: Long, mod: Long, kind: String): Unit = {
      var checked = 0
      texts.keys.filter(id => id < 10000000L && id % mod == 0).foreach { id =>
        texts.get(id + offset).foreach { bTxt =>
          val shared = (grams(texts(id)) intersect grams(bTxt)).size.toLong
          if (shared > 0) {
            checked += 1
            assert(pairs.get((id, id + offset)).contains(shared),
              s"$kind pair ($id, ${id + offset}): engine ${pairs.get((id, id + offset))} != model $shared")
          } else assert(!pairs.contains((id, id + offset)),
            s"$kind pair ($id, ${id + offset}) reported with no shared grams")
        }
      }
      assert(checked > 0, s"fixture planted no checkable $kind pair")
    }
    checkPlanted(10000000L, 5L, "prefix-copy")
    checkPlanted(20000000L, 25L, "exact-copy")
  }

  test("substringOverlap maxDf: hot boilerplate run is pruned from generation, copies still found exactly") {
    val s = spark
    import s.implicits._
    // a boilerplate header shared by 40 docs (one hot 13-gram, df = 40)
    // + one genuine copied pair whose shared runs are all RARE
    val header = (1 to 13).map(i => s"license$i").mkString(" ")
    val boiler = (0L until 40L).map(i =>
      (i, s"$header unique${i}a unique${i}b unique${i}c unique${i}d unique${i}e " +
        s"unique${i}f unique${i}g unique${i}h unique${i}i unique${i}j unique${i}k unique${i}l"))
    val copied = (1000L, (1 to 30).map(i => s"copy$i").mkString(" ")) ::
      (1001L, (1 to 30).map(i => s"copy$i").mkString(" ")) :: Nil
    val corpus = (boiler ++ copied).toDF("doc_id", "text")
    // exhaustive: the hot header alone creates 40*39/2 = 780 boilerplate
    // pairs; capped at df<=10 the header never generates candidates
    val exhaustive = Dedup.substringOverlap(corpus).collect()
    assert(exhaustive.length >= 780 + 1)
    val capped = Dedup.substringOverlap(corpus, maxDf = Some(10L)).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(!capped.keys.exists { case (a, b) => a < 40L && b < 40L },
      "boilerplate-only pairs must be pruned from candidate generation")
    // the genuine copy pair survives with its EXACT full count (30 tokens
    // -> 18 shared 13-runs), not a pruned undercount
    assert(capped.get((1000L, 1001L)).contains(18L),
      s"copied pair must keep exact shared_runs: ${capped.get((1000L, 1001L))}")
  }

  test("dedupIncremental: copies of stored docs are dropped, in-delta copies collapse") {
    val cutoff = 400L
    val res = Dedup.dedupIncremental(docs, cutoff).collect()
      .map(r => r.getLong(1) -> r.getLong(2)).toMap // keep_id -> n_dups_in_delta
    assert(res.nonEmpty)
    // exact copies (source + 2e7) of STORED sources (< cutoff) must not
    // appear at all — their hash exists in the store
    val copyOfStored = res.keys.filter(id => id >= 20000000L && id - 20000000L < cutoff)
    assert(copyOfStored.isEmpty, s"store-dup docs leaked: $copyOfStored")
    // exact copies of DELTA sources (>= cutoff) collapse onto the source
    // within the delta: the source survives with n_dups = 2
    val deltaSources = (cutoff until 500L).filter(_ % 25 == 0)
    assert(deltaSources.nonEmpty)
    deltaSources.foreach { id =>
      assert(res.get(id).contains(2L), s"delta source $id should survive with its copy: ${res.get(id)}")
      assert(!res.contains(id + 20000000L), s"delta copy of $id wrongly survived")
    }
  }

  test("dedup clusters: planted copies join their source's cluster, source survives") {
    val comp = Dedup.dedupClusters(docs).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    // exact copies (doc_id + 2e7) always share their source's cluster
    val exactCopies = comp.keys.filter(_ >= 20000000L)
    assert(exactCopies.nonEmpty)
    exactCopies.foreach { id =>
      assert(comp(id)._1 == comp(id - 20000000L)._1, s"copy $id not clustered with source")
      assert(!comp(id)._2, s"copy $id wrongly marked survivor")
    }
    // every cluster id is a member of its own cluster and survives
    comp.values.map(_._1).toSet.foreach { (cid: Long) =>
      assert(comp(cid)._1 == cid && comp(cid)._2)
    }
  }

  test("dedupLines: shared segments are dropped, unique text survives in order") {
    val out = Dedup.dedupLines(docs).cache()
    val byId = out.collect().map(r => r.getLong(0) ->
      (r.getString(1), r.getLong(2), r.getLong(3))).toMap
    // a planted exact copy (doc_id % 25 == 0, +2e7) shares EVERY segment
    // with its source, so both lose all segments
    val plantedSrc = rawDocs.filter(col("doc_id") % 25 === 0)
      .select("doc_id").collect().map(_.getLong(0))
    assert(plantedSrc.nonEmpty)
    plantedSrc.foreach { id =>
      val (txt, n, dropped) = byId(id + 20000000L)
      assert(txt == "" && dropped == n, s"copy of $id kept shared segments")
      val (srcTxt, srcN, srcDropped) = byId(id)
      assert(srcTxt == "" && srcDropped == srcN, s"source $id kept shared segments")
    }
    // a fully-unique doc is reconstructed verbatim (segment order preserved)
    val input = docs.collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val untouched = byId.filter { case (_, (_, _, dropped)) => dropped == 0 }
    assert(untouched.nonEmpty)
    untouched.foreach { case (id, (txt, _, _)) =>
      assert(txt == input(id), s"doc $id not reconstructed verbatim")
    }
    // conservation: segment count == ceil(tokens / width) for every doc,
    // and dropped never exceeds the total
    byId.foreach { case (id, (_, n, dropped)) =>
      val tokens = input(id).split(" ", -1).length
      assert(n == (tokens + 9) / 10, s"doc $id segment count off")
      assert(dropped >= 0 && dropped <= n)
    }
    out.unpersist()
  }

  test("simhash: exact copies collide at hamming 0") {
    val pairs = Dedup.dedupSimhash(docs)
    val zeroPairs = pairs.filter(col("hamming") === 0)
      .filter(col("doc_b") - col("doc_a") === 20000000L).count()
    val planted = rawDocs.filter(col("doc_id") % 25 === 0).count()
    assert(zeroPairs == planted)
  }

  test("ann: ivf with all cells probed equals brute force") {
    val brute = Vectors.annTopK(emb, k = 5).collect().map(_.getLong(0)).toSeq
    val ivfAll = Vectors.annIvf(emb, k = 5, nProbe = 10).collect().map(_.getLong(0)).toSeq
    assert(brute == ivfAll)
  }

  test("ann: ivf over a corpus with wrong-dimension vectors equals ivf over its valid rows") {
    // copies of the query vector, cut to 63 and extended to 65 elements,
    // in the query's own cell: vec_sum throws on either in the centroid
    // aggregate, and unfiltered they would top the candidate ranking
    val q = emb.filter(col("vec_id") === 0L).head()
    val (label, qv) = (q.getAs[Int]("label"), q.getSeq[Float](q.fieldIndex("embedding")).toSeq)
    val maxId = emb.agg(max("vec_id")).head().getLong(0)
    val bad = spark.createDataFrame(java.util.List.of(
      org.apache.spark.sql.Row(maxId + 1, label, qv.take(63)),
      org.apache.spark.sql.Row(maxId + 2, label, qv :+ 1.0f)),
      org.apache.spark.sql.types.StructType(Seq("vec_id", "label", "embedding").map(emb.schema(_))))
    def ivf(df: org.apache.spark.sql.DataFrame) =
      Vectors.annIvf(df, k = 5, nProbe = 3).collect().toSeq
    val valid = ivf(emb)
    assert(valid.nonEmpty)
    assert(ivf(emb.unionByName(bad)) == valid)
  }

  test("ann: brute force, filtered search and lsh over a corpus with wrong-dimension vectors equal their valid rows") {
    // the same 63- and 65-element copies of the query vector: vec_dot
    // scores mismatched lengths over min(len) elements, so unfiltered they
    // top each ranking, while the oracles give them a NULL cosine
    val q = emb.filter(col("vec_id") === 0L).head()
    val (label, qv) = (q.getAs[Int]("label"), q.getSeq[Float](q.fieldIndex("embedding")).toSeq)
    val maxId = emb.agg(max("vec_id")).head().getLong(0)
    val bad = spark.createDataFrame(java.util.List.of(
      org.apache.spark.sql.Row(maxId + 1, label, qv.take(63)),
      org.apache.spark.sql.Row(maxId + 2, label, qv :+ 1.0f)),
      org.apache.spark.sql.types.StructType(Seq("vec_id", "label", "embedding").map(emb.schema(_))))
    val paths = Seq[(String, org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame)](
      "annTopK" -> (Vectors.annTopK(_, k = 5)),
      "searchHighlights" -> (Vectors.searchHighlights(_, k = 5, labels = Seq(label))),
      "annLsh" -> (Vectors.annLsh(_, k = 5)))
    val changed = paths.filter { case (name, run) =>
      val valid = run(emb).collect().toSeq
      assert(valid.nonEmpty, name)
      run(emb.unionByName(bad)).collect().toSeq != valid
    }.map(_._1)
    assert(changed.isEmpty, s"wrong-dimension vectors changed the output of ${changed.mkString(", ")}")
  }

  test("semDedup: clusters close the near-dup graph, exactly one survivor each") {
    val pairs = Dedup.embedNearDup(emb).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(pairs.nonEmpty)
    val out = Dedup.semDedup(emb).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    // every vector assigned; paired vectors share a cluster
    assert(out.size == emb.count())
    pairs.foreach { case (a, b) =>
      assert(out(a)._1 == out(b)._1, s"pair ($a,$b) split across clusters")
    }
    // each cluster: id = min member, exactly one survivor (that min)
    out.groupBy(_._2._1).foreach { case (cid, members) =>
      assert(members.keys.min == cid)
      val survivors = members.filter(_._2._2).keys.toSeq
      assert(survivors == Seq(cid), s"cluster $cid survivors $survivors")
    }
    // both component paths agree
    val dist = Dedup.semDedup(emb, smallGraphEdges = 0L).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    assert(dist == out)
  }

  test("semDedupGeo: finds cross-label near-dups that given-label blocking separates") {
    val s = spark
    import s.implicits._
    // two tight clusters far apart; the near-identical pair (1,2) carries
    // DIFFERENT given labels, so label-blocked semDedup can never pair it —
    // the learned cells must
    def v(base: Float, jitter: Float) =
      Array.tabulate(64)(i => if (i == 0) base + jitter else if (i == 1) 1f else 0f)
    val rows = Seq(
      (1L, 0, v(10f, 0f)), (2L, 1, v(10f, 0.01f)), // near-dup, labels split them
      (3L, 0, v(-10f, 0f)), (4L, 1, v(-10f, 0.02f))) // second cluster, also split
    val df = rows.toDF("vec_id", "label", "embedding")
    val given = Dedup.semDedup(df, minCos = 0.99)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // given labels: every vector is its own cluster (no same-label pairs)
    assert(given == Map(1L -> 1L, 2L -> 2L, 3L -> 3L, 4L -> 4L))
    val geo = Dedup.semDedupGeo(df, minCos = 0.99, kCells = 2)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    // learned cells co-locate the near-dups: (1,2) and (3,4) fuse, with
    // the min id surviving each cluster
    assert(geo(1L) == (1L, true) && geo(2L) == (1L, false), s"geo=$geo")
    assert(geo(3L) == (3L, true) && geo(4L) == (3L, false), s"geo=$geo")
    // invariants shared with semDedup: all vectors assigned, one survivor
    assert(geo.size == rows.size)
  }

  test("semDedupGeo: kCells=1 equals semDedup on a single-label corpus (all-pairs)") {
    val s = spark
    import s.implicits._
    val oneLabel = emb.withColumn("label", org.apache.spark.sql.functions.lit(0))
    val geo = Dedup.semDedupGeo(oneLabel, kCells = 1)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    val plain = Dedup.semDedup(oneLabel)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    assert(geo == plain)
  }

  test("knnJoin: contiguous ranks per vector, top neighbor agrees with brute force") {
    val nn = Vectors.knnJoin(emb, k = 3).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
    val byA = nn.groupBy(_._1)
    // block sizes: label cardinality per cell
    val blockOf = emb.collect().map(r => r.getLong(0) -> r.getInt(2)).toMap
    val blockSize = blockOf.values.groupBy(identity).map { case (l, xs) => l -> xs.size }
    byA.foreach { case (a, rows) =>
      val ranks = rows.map(_._4).sorted.toSeq
      val expect = math.min(3, blockSize(blockOf(a)) - 1)
      assert(ranks == (1L to expect), s"vec $a ranks $ranks")
      // non-increasing cosine along the rank order
      val byRank = rows.sortBy(_._4).map(_._3).toSeq
      assert(byRank.sliding(2).forall { case Seq(x, y) => x >= y })
    }
    // rank-1 neighbor of the query vector matches the in-block brute-force argmax
    val q0 = nn.filter(r => r._1 == 0L && r._4 == 1L).head
    val brute = Dedup.embedNearDup(emb, minCos = -1.0).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .flatMap { case (a, b, c) => Seq((a, b, c), (b, a, c)) }
      .filter(_._1 == 0L)
      .maxBy(r => (r._3, -r._2))
    assert(q0._2 == brute._2 && q0._3 == brute._3)
  }

  test("knnJoinMultiProbe: recovers cross-label near-neighbors the single-block join misses") {
    val s = spark
    import s.implicits._
    // clusters straddling the blocking boundary: labels 0 and 1 both hold
    // vectors near direction (1,0) at interleaved angles — every label-0
    // vector's TRUE nearest neighbor lives in label 1 (and vice versa);
    // label 2 is a far cluster near (0,1)
    def vec(deg: Double): Array[Float] = {
      val r = math.toRadians(deg)
      Array.tabulate(64)(i =>
        if (i == 0) math.cos(r).toFloat else if (i == 1) math.sin(r).toFloat else 0f)
    }
    val rows =
      (0 until 4).map(i => (i.toLong, 0, vec(i * 2.0))) ++        // 0,2,4,6 deg
      (0 until 4).map(i => (100L + i, 1, vec(i * 2.0 + 1.0))) ++  // 1,3,5,7 deg
      (0 until 4).map(i => (200L + i, 2, vec(90.0 + i)))
    val df = rows.toDF("vec_id", "label", "embedding")
    // ground truth: brute-force top-1 over ALL vectors
    def cos(a: Array[Float], b: Array[Float]): Double = {
      val dot = a.zip(b).map { case (x, y) => x.toDouble * y.toDouble }.sum
      dot / (math.sqrt(a.map(x => x.toDouble * x.toDouble).sum) *
        math.sqrt(b.map(x => x.toDouble * x.toDouble).sum))
    }
    // mirror the operator's determinism contract exactly: cosine floored
    // at 1e-6 (EventSemantics.fl), ties broken by the LOWER neighbor id
    val truth = rows.map { case (id, _, v) =>
      id -> rows.filter(_._1 != id).maxBy { case (oid, _, ov) =>
        (math.floor(cos(v, ov) * 1e6), -oid)
      }._1
    }.toMap
    def top1(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
      df.filter(col("nn_rank") === 1).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val single = top1(Vectors.knnJoin(df, k = 1))
    val multi = top1(Vectors.knnJoinMultiProbe(df, k = 1, nProbe = 2))
    def recall(got: Map[Long, Long]) = rows.count { case (id, _, _) => got.get(id).contains(truth(id)) }
    // the single-block graph misses every boundary neighbor; multi-probe
    // with nProbe=2 probes both near blocks and recovers them all
    assert(recall(single) < rows.size / 2, s"single-block recall unexpectedly high: $single")
    assert(recall(multi) == rows.size, s"multi-probe missed true neighbors: $multi vs $truth")
    // the far cluster stays internally matched (own block always probed)
    (200L to 203L).foreach(id => assert(multi(id) >= 200L && multi(id) <= 203L))
  }

  test("knnJoinMultiProbeHier: identical to the flat variant when superProbe covers all supers") {
    // with every super probed, stage-2 candidates = ALL cells, so the
    // hierarchy reduces to knnJoinMultiProbe exactly (same floors, same
    // tie order) — this pins the whole two-stage ranking path
    val c = emb.filter(col("label").isNotNull).select("label").distinct().count().toInt
    val nSup = math.ceil(math.sqrt(c.toDouble)).toInt
    val flat = Vectors.knnJoinMultiProbe(emb, k = 5, nProbe = 2)
      .collect().map(_.toSeq).toSet
    val hier = Vectors.knnJoinMultiProbeHier(emb, k = 5, nProbe = 2, superProbe = nSup)
      .collect().map(_.toSeq).toSet
    assert(hier === flat)
  }

  test("knnJoinMultiProbeHier: prunes to the right super, keeps full boundary recall") {
    val s = spark
    import s.implicits._
    def vec(deg: Double): Array[Float] = {
      val r = math.toRadians(deg)
      Array.tabulate(64)(i =>
        if (i == 0) math.cos(r).toFloat else if (i == 1) math.sin(r).toFloat else 0f)
    }
    // labels 0/1 interleave near (1,0) — the boundary case the mp test
    // uses — and label 2 sits far away at (0,1): 3 cells, 2 supers, so a
    // pruned (superProbe=1) hierarchy must still group cells 0+1 into the
    // SAME super for boundary recall to survive pruning
    val rows =
      (0 until 4).map(i => (i.toLong, 0, vec(i * 2.0))) ++
      (0 until 4).map(i => (100L + i, 1, vec(i * 2.0 + 1.0))) ++
      (0 until 4).map(i => (200L + i, 2, vec(90.0 + i)))
    val df = rows.toDF("vec_id", "label", "embedding")
    val mp = Vectors.knnJoinMultiProbe(df, k = 1, nProbe = 2)
      .collect().map(_.toSeq).toSet
    val hier = Vectors.knnJoinMultiProbeHier(df, k = 1, nProbe = 2, superProbe = 1)
      .collect().map(_.toSeq).toSet
    assert(hier === mp,
      "pruned hierarchy must match the flat probe set on a cleanly separated super structure")
  }

  test("knnJoinMultiProbeHier: own-label probe survives pruning (single-block graph contained)") {
    val s = spark
    import s.implicits._
    def vec(deg: Double): Array[Float] = {
      val r = math.toRadians(deg)
      Array.tabulate(64)(i =>
        if (i == 0) math.cos(r).toFloat else if (i == 1) math.sin(r).toFloat else 0f)
    }
    val rows =
      (0 until 4).map(i => (i.toLong, 0, vec(i * 2.0))) ++
      (0 until 4).map(i => (100L + i, 1, vec(i * 2.0 + 1.0))) ++
      (0 until 4).map(i => (200L + i, 2, vec(90.0 + i)))
    val df = rows.toDF("vec_id", "label", "embedding")
    // k >= block size: every within-block pair must appear regardless of
    // how aggressively the super stage prunes
    val single = Vectors.knnJoin(df, k = 10).select("vec_a", "vec_b")
      .collect().map(_.toSeq).toSet
    val hier = Vectors.knnJoinMultiProbeHier(df, k = 10, nProbe = 1, superProbe = 1)
      .select("vec_a", "vec_b").collect().map(_.toSeq).toSet
    assert(single.subsetOf(hier), "own-block edges must never be pruned away")
  }

  test("knnJoinGeo: learned cells reunite boundary neighbors that label blocks separate") {
    val s = spark
    import s.implicits._
    def vec(deg: Double): Array[Float] = {
      val r = math.toRadians(deg)
      Array.tabulate(64)(i =>
        if (i == 0) math.cos(r).toFloat else if (i == 1) math.sin(r).toFloat else 0f)
    }
    // labels 0/1 interleave near (1,0) (every true nearest neighbor is
    // cross-label), label 2 sits at (0,1). vec_ids 0 and 1 anchor the two
    // GEOMETRIC clusters so the deterministic lowest-id k-means init
    // starts one centroid in each — the learned 2-cell partition then
    // puts ALL interleaved vectors in one cell, and even nProbe=1
    // (own-cell only) recovers every boundary neighbor the label-blocked
    // join misses.
    val rows = Seq((0L, 0, vec(0.0)), (1L, 2, vec(90.0))) ++
      (1 until 4).map(i => (i + 1L, 0, vec(i * 2.0))) ++
      (0 until 4).map(i => (100L + i, 1, vec(i * 2.0 + 1.0))) ++
      (1 until 3).map(i => (200L + i, 2, vec(90.0 + i)))
    val df = rows.toDF("vec_id", "label", "embedding")
    def cos(a: Array[Float], b: Array[Float]): Double = {
      val dot = a.zip(b).map { case (x, y) => x.toDouble * y.toDouble }.sum
      dot / (math.sqrt(a.map(x => x.toDouble * x.toDouble).sum) *
        math.sqrt(b.map(x => x.toDouble * x.toDouble).sum))
    }
    val truth = rows.map { case (id, _, v) =>
      id -> rows.filter(_._1 != id).maxBy { case (oid, _, ov) =>
        (math.floor(cos(v, ov) * 1e6), -oid)
      }._1
    }.toMap
    def top1(d: org.apache.spark.sql.DataFrame): Map[Long, Long] =
      d.filter(col("nn_rank") === 1).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val labelBlocked = top1(Vectors.knnJoin(df, k = 1))
    val geo = top1(Vectors.knnJoinGeo(df, k = 1, nProbe = 1, kCells = 2))
    def recall(got: Map[Long, Long]) = rows.count { case (id, _, _) => got.get(id).contains(truth(id)) }
    assert(recall(labelBlocked) < rows.size, s"label blocking unexpectedly perfect: $labelBlocked")
    assert(recall(geo) == rows.size, s"geo blocking missed true neighbors: $geo vs $truth")
    // deterministic end to end (trained init is lowest-id, Lloyd is exact)
    val again = top1(Vectors.knnJoinGeo(df, k = 1, nProbe = 1, kCells = 2))
    assert(again == geo)
  }

  test("knnGraphIncrement: untouched blocks pass through verbatim, touched blocks recompute") {
    val s = spark
    import s.implicits._
    // sentinel proof of SURGICAL maintenance: perturb the stored graph's
    // cosines in the untouched block — the incremental result must carry
    // the perturbation (pass-through, not recompute) there, and must be
    // freshly correct in the touched block
    val old = emb.filter(col("vec_id") % 10 < 8)
    val delta = emb.filter(col("vec_id") % 10 >= 8)
    val touchedLabels = delta.select("label").distinct()
      .collect().map(_.getInt(0)).toSet
    val untouched = emb.select("label").distinct()
      .collect().map(_.getInt(0)).toSet -- touchedLabels
    assume(untouched.nonEmpty || touchedLabels.nonEmpty)
    // full equality first (the gate's merged ≡ monolithic shape)
    val inc = Vectors.knnGraphIncrement(Vectors.knnGraph(old), old, delta)
      .collect().map(_.toSeq).toSet
    val full = Vectors.knnGraph(emb).collect().map(_.toSeq).toSet
    assert(inc === full)
    // sentinel: corrupt every stored cosine; only touched blocks recover
    val corrupted = Vectors.knnGraph(old).withColumn("cosine", lit(-9.0))
    val inc2 = Vectors.knnGraphIncrement(corrupted, old, delta).collect()
    inc2.foreach { r =>
      val lbl = r.getInt(0)
      if (touchedLabels(lbl))
        assert(r.getDouble(3) != -9.0, s"touched block $lbl must be recomputed")
      else
        assert(r.getDouble(3) == -9.0, s"untouched block $lbl must pass through verbatim")
    }
  }

  test("knnGraphIncrement fails loudly on a delta touching more than maxGeoCells labels") {
    val cap = Vectors.maxGeoCells()
    val old = spark.range(0).select(col("id").as("vec_id"), col("id").cast("int").as("label"))
    val delta = spark.range(cap + 1L)
      .select((col("id") + 1).as("vec_id"), col("id").cast("int").as("label"))
    val e = intercept[IllegalArgumentException](Vectors.knnGraphIncrement(old, old, delta))
    assert(e.getMessage.contains("knnGraphIncrement") && e.getMessage.contains(s"maxGeoCells() = $cap"),
      e.getMessage)
  }

  test("knnGraphIncrement: single-block delta leaves every other block untouched") {
    val s = spark
    import s.implicits._
    def vec(deg: Double): Array[Float] = {
      val r = math.toRadians(deg)
      Array.tabulate(64)(i =>
        if (i == 0) math.cos(r).toFloat else if (i == 1) math.sin(r).toFloat else 0f)
    }
    val oldRows = (0 until 4).map(i => (i.toLong, 0, vec(i * 2.0))) ++
      (0 until 4).map(i => (100L + i, 1, vec(90.0 + i)))
    val deltaRows = Seq((200L, 1, vec(94.0)))
    val old = oldRows.toDF("vec_id", "label", "embedding")
    val delta = deltaRows.toDF("vec_id", "label", "embedding")
    val inc = Vectors.knnGraphIncrement(
      Vectors.knnGraph(old).withColumn("cosine", lit(-9.0)), old, delta)
      .collect()
    // block 0 untouched: the sentinel survives; block 1 recomputed and
    // includes the new vector's edges
    assert(inc.filter(_.getInt(0) == 0).forall(_.getDouble(3) == -9.0))
    assert(inc.filter(_.getInt(0) == 1).forall(_.getDouble(3) != -9.0))
    assert(inc.exists(r => r.getLong(1) == 200L), "new vector must have edges")
    assert(inc.exists(r => r.getInt(0) == 1 && r.getLong(2) == 200L),
      "old vectors in the touched block must see the new neighbor")
  }

  test("autoGeoCells: (nProbe*N)^(2/3) sizing, invalid rows excluded, usable end to end") {
    // cost model under the exact-pruning index (CentroidIndex): per-row
    // assignment O(sqrt(C)·dim) + pair join O(nProbe·(N/C)·dim)
    // minimizes at C = (nProbe·N)^(2/3), capped at 2^14
    assert(Vectors.autoGeoCells(emb) ==
      math.min(math.ceil(math.pow(2.0 * emb.count(), 2.0 / 3.0)).toInt, 1 << 14))
    assert(Vectors.autoGeoCells(emb, nProbe = 8) ==
      math.min(math.ceil(math.pow(8.0 * emb.count(), 2.0 / 3.0)).toInt, 1 << 14))
    val s = spark
    import s.implicits._
    // invalid (wrong-dim) vectors don't count toward N
    val mixed = (Seq((1L, 0, Array.fill(3)(1.0f))) ++
      (0 until 4).map(i => (10L + i, 0, Array.tabulate(64)(j => if (j == i) 1.0f else 0f))))
      .toDF("vec_id", "label", "embedding")
    assert(Vectors.autoGeoCells(mixed) == math.ceil(math.pow(2.0 * 4, 2.0 / 3.0)).toInt)
    // the auto size drives a working graph build
    val c = Vectors.autoGeoCells(mixed)
    assert(Vectors.knnJoinGeo(mixed, k = 2, kCells = c).count() > 0)
  }

  test("knnJoinGeo: empty and all-invalid corpora yield empty graphs") {
    val s = spark
    import s.implicits._
    val empty = Seq.empty[(Long, Int, Array[Float])].toDF("vec_id", "label", "embedding")
    // wrong dim -> kmValid drops both at the block pair join's entry
    val invalid = Seq((1L, 0, Array.fill(3)(1.0f)), (2L, 0, Array.fill(3)(1.0f)))
      .toDF("vec_id", "label", "embedding")
    // every member of the graph family runs through the one block pair join
    Seq("empty" -> empty, "all-invalid" -> invalid).foreach { case (name, df) =>
      Seq[(String, org.apache.spark.sql.DataFrame)](
        "knnJoin" -> Vectors.knnJoin(df),
        "knnGraph" -> Vectors.knnGraph(df),
        "knnJoinMultiProbe" -> Vectors.knnJoinMultiProbe(df),
        "knnJoinMultiProbeHier" -> Vectors.knnJoinMultiProbeHier(df),
        "knnJoinGeo" -> Vectors.knnJoinGeo(df),
        "embedNearDup" -> Dedup.embedNearDup(df)).foreach { case (op, out) =>
        assert(out.count() == 0, s"$op on the $name corpus")
      }
      // no pair: every vector is its own singleton cluster and survivor
      val sem = Dedup.semDedup(df).collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap
      assert(sem == df.collect().map(r => r.getLong(0) -> (r.getLong(0), true)).toMap,
        s"semDedup on the $name corpus: $sem")
    }
  }

  test("embedNearDup/semDedup: vectors of the wrong dimension are never scored") {
    val s = spark
    import s.implicits._
    // DotProduct folds over min(len) elements while the oracle's
    // embedding[i] is NULL past the end, so an unfiltered wrong-dim vector
    // scored ~0.98 against its own truncation here, on one engine only
    val base = Array.tabulate(64)(i => (i % 7 + 1).toFloat)
    val df = Seq((1L, 0, base), (2L, 0, base.take(63)), (3L, 0, base :+ 1.0f))
      .toDF("vec_id", "label", "embedding")
    assert(Dedup.embedNearDup(df).count() == 0)
    val sem = Dedup.semDedup(df).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    assert(sem == Map(1L -> (1L, true), 2L -> (2L, true), 3L -> (3L, true)), s"semDedup: $sem")
  }

  test("fused probe expressions ≡ unrolled formulations on the real corpus (flat + hier)") {
    // the deploy path (TopProbeLabels / TopProbeLabelsHier codegen'd
    // expressions, O(1) plan size in C) must reproduce the original
    // one-literal-per-cell array_sort plans bit-for-bit
    val flatExpr = Vectors.knnJoinMultiProbe(emb, k = 5, nProbe = 2)
      .collect().map(_.toSeq).toSet
    val flatUnrolled = Vectors.knnJoinMultiProbe(emb, k = 5, nProbe = 2, unrolled = true)
      .collect().map(_.toSeq).toSet
    assert(flatExpr === flatUnrolled)
    val hierExpr = Vectors.knnJoinMultiProbeHier(emb, k = 5, nProbe = 2, superProbe = 2)
      .collect().map(_.toSeq).toSet
    val hierUnrolled = Vectors.knnJoinMultiProbeHier(emb, k = 5, nProbe = 2, superProbe = 2,
      unrolled = true).collect().map(_.toSeq).toSet
    assert(hierExpr === hierUnrolled)
  }

  test("fused probe expressions ≡ unrolled on degenerate vectors (null/null-element/null-label)") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    // every null/NaN shape the unrolled plan defines behavior for:
    //  - a NULL vector nulls every cosine → probe ranking degenerates to
    //    label ASC (the coalesce fallback arm on the expression path)
    //  - a NULL ELEMENT nulls dot(q,q) → same degeneration, but through
    //    the expression's own kernel (array non-null)
    //  - a NULL label keeps its a-side probes but never matches b-side
    // (zero-NORM vectors are OUTSIDE the operator contract: under ANSI
    // the downstream join cosine's 0/0 throws DIVIDE_BY_ZERO on either
    // probe-assignment path)
    def vec(deg: Double): Seq[java.lang.Float] = {
      val r = math.toRadians(deg)
      Seq.tabulate[java.lang.Float](64)(i =>
        if (i == 0) math.cos(r).toFloat else if (i == 1) math.sin(r).toFloat else 0f)
    }
    val withNullElem: Seq[java.lang.Float] = vec(5.0).updated(3, null: java.lang.Float)
    val rows = Seq(
      Row(0L, Integer.valueOf(0), vec(0.0)),
      Row(1L, Integer.valueOf(0), vec(2.0)),
      Row(2L, Integer.valueOf(0), null),
      Row(3L, Integer.valueOf(1), vec(1.0)),
      Row(4L, Integer.valueOf(1), withNullElem),
      Row(5L, Integer.valueOf(1), vec(3.0)),
      Row(6L, Integer.valueOf(2), vec(90.0)),
      Row(7L, Integer.valueOf(2), vec(91.0)),
      Row(8L, null, vec(45.0)))
    val schema = StructType(Seq(
      StructField("vec_id", LongType, nullable = false),
      StructField("label", IntegerType, nullable = true),
      StructField("embedding", ArrayType(FloatType, containsNull = true), nullable = true)))
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 3), schema)
    for (np <- Seq(1, 2, 5)) {
      val fe = Vectors.knnJoinMultiProbe(df, k = 3, nProbe = np)
        .collect().map(_.toSeq).toSet
      val fu = Vectors.knnJoinMultiProbe(df, k = 3, nProbe = np, unrolled = true)
        .collect().map(_.toSeq).toSet
      assert(fe === fu, s"flat mismatch at nProbe=$np")
      val he = Vectors.knnJoinMultiProbeHier(df, k = 3, nProbe = np, superProbe = 1)
        .collect().map(_.toSeq).toSet
      val hu = Vectors.knnJoinMultiProbeHier(df, k = 3, nProbe = np, superProbe = 1,
        unrolled = true).collect().map(_.toSeq).toSet
      assert(he === hu, s"hier mismatch at nProbe=$np")
    }
  }

  test("residual PQ: lower reconstruction error than plain PQ at equal code size, recall no worse") {
    // equal code budget: plain PQ m=8 × log2(16) = 32 bits; residual PQ
    // two stages of m=4 × log2(16) = 32 bits
    val vecs = emb.select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray)
    val dim = 64
    val ordered = vecs.sortBy { case (id, _) =>
      (java.security.MessageDigest.getInstance("MD5")
        .digest(s"pq-sample-$id".getBytes("UTF-8")).map("%02x".format(_)).mkString, id)
    }
    // md5-hex ordering here only approximates the operator's sample order;
    // any fixed 256-vector sample trains a valid codebook for this check
    val sample = ordered.take(256).map(_._2)
    def mse(m: Int, stages: Int): Double = {
      val cb1 = Vectors.trainPqCodebook(sample, dim, m, 16, 5)
      def recon1(v: Array[Double]) =
        Vectors.pqReconstructLocal(Vectors.pqEncodeLocal(v, cb1, dim, m, 16), cb1, dim, m, 16)
      val stage2 = if (stages == 2) {
        val res = sample.map(v => { val r = recon1(v); Array.tabulate(dim)(i => v(i) - r(i)) })
        Some(Vectors.trainPqCodebook(res, dim, m, 16, 5))
      } else None
      vecs.map { case (_, v) =>
        val r1 = recon1(v)
        val rec = stage2 match {
          case Some(cb2) =>
            val res = Array.tabulate(dim)(i => v(i) - r1(i))
            val r2 = Vectors.pqReconstructLocal(
              Vectors.pqEncodeLocal(res, cb2, dim, m, 16), cb2, dim, m, 16)
            Array.tabulate(dim)(i => r1(i) + r2(i))
          case None => r1
        }
        (0 until dim).map(i => { val d = v(i) - rec(i); d * d }).sum / dim
      }.sum / vecs.length
    }
    val msePlain = mse(m = 8, stages = 1)
    val mseResidual = mse(m = 4, stages = 2)
    assert(mseResidual < msePlain,
      f"residual PQ should reconstruct better at equal bits: $mseResidual%.6f vs $msePlain%.6f")

    // recall@10 with NO re-rank slack (rerank = k), averaged over 20
    // query vectors (single-query recall on 10 items is quantized to
    // 0.1 steps — the mean is the stable, still fully deterministic
    // comparison): the two-stage codes must rank the true neighborhood
    // at least as well as plain PQ at the same bit budget
    val qids = (0L until 20L)
    def meanRecall(fn: Long => org.apache.spark.sql.DataFrame): Double = qids.map { q =>
      val truth = Vectors.annTopK(emb, qId = q, k = 10).collect().map(_.getLong(0)).toSet
      fn(q).collect().map(_.getLong(0)).count(truth) / 10d
    }.sum / qids.size
    val rPlain = meanRecall(q => Vectors.annPq(emb, qId = q, k = 10, m = 8, codebookK = 16, rerank = 10))
    val rResidual = meanRecall(q => Vectors.annPqResidual(emb, qId = q, k = 10, m = 4, codebookK = 16, rerank = 10))
    assert(rResidual >= rPlain,
      s"residual PQ mean recall $rResidual worse than plain PQ $rPlain at equal code size")
    // the re-rank margin is the recall knob: 10× slack must recover most
    // of the neighborhood, and rerank >= corpus is exact by construction
    val truth0 = Vectors.annTopK(emb, k = 10).collect().map(r => (r.getLong(0), r.getDouble(2)))
    val withMargin = Vectors.annPqResidual(emb, k = 10, m = 4, codebookK = 16, rerank = 100)
      .collect().map(_.getLong(0)).count(truth0.map(_._1).toSet) / 10d
    assert(withMargin >= 0.9, s"residual PQ with rerank margin missed neighbors: $withMargin")
    val exact = Vectors.annPqResidual(emb, k = 10, m = 4, codebookK = 16, rerank = 100000)
      .collect().map(r => (r.getLong(0), r.getDouble(3)))
    assert(exact.sameElements(truth0), "rerank >= corpus must reproduce brute force exactly")
  }

  test("ann: ivf-pq composite index — pruning containment, recall margin, full-probe exactness") {
    // nProbe = 1: every result must come from the single probed cell
    // (the coarse quantizer actually prunes) — and that cell is the one
    // nearest the query by centroid cosine, which contains the query's
    // own label cell for this corpus
    val one = Vectors.annIvfPq(emb, k = 10, nProbe = 1, rerank = 100000).collect()
    assert(one.nonEmpty && one.map(_.getInt(1)).toSet.size == 1,
      "nProbe=1 must confine results to one cell")

    // all cells probed + rerank >= corpus = exact brute force
    val truth = Vectors.annTopK(emb, k = 10).collect().map(r => (r.getLong(0), r.getDouble(2)))
    val full = Vectors.annIvfPq(emb, k = 10, nProbe = 1000, rerank = 100000)
      .collect().map(r => (r.getLong(0), r.getDouble(3)))
    assert(full.sameElements(truth), "full probe + full rerank must equal brute force")

    // recall floor: this corpus's labels are RANDOM, not geometry-derived,
    // so a true neighbor lands in a probed cell with p ≈ nProbe/|cells| —
    // the index must still clear that no-geometry floor (the rerank margin
    // makes probed-cell neighbors near-certain finds), averaged over 20
    // queries for stability. Real deployments cluster cells by geometry
    // (v_cluster_kmeans), where probed-cell coverage → 1.
    val nCells = emb.select("label").distinct().count().toDouble
    val qids = (0L until 20L)
    val meanRecall = qids.map { q =>
      val t = Vectors.annTopK(emb, qId = q, k = 10).collect().map(_.getLong(0)).toSet
      Vectors.annIvfPq(emb, qId = q, k = 10, nProbe = 3, rerank = 100)
        .collect().map(_.getLong(0)).count(t) / 10d
    }.sum / qids.size
    assert(meanRecall >= 3d / nCells,
      s"ivf-pq mean recall $meanRecall below the $nCells-cell probe floor")

    // deterministic
    val a = Vectors.annIvfPq(emb, k = 10).collect().map(_.toSeq)
    val b = Vectors.annIvfPq(emb, k = 10).collect().map(_.toSeq)
    assert(a.toSeq == b.toSeq)
  }

  test("ann: ivf-pq geometry cells beat random-label cells at equal probe budget") {
    // same nProbe/rerank, only the coarse quantizer differs: Voronoi
    // cells from k-means concentrate a query's true neighborhood, random
    // label cells scatter it — the whole reason IVF trains its cells
    val qids = (0L until 20L)
    def meanRecall(fn: Long => org.apache.spark.sql.DataFrame): Double = qids.map { q =>
      val t = Vectors.annTopK(emb, qId = q, k = 10).collect().map(_.getLong(0)).toSet
      fn(q).collect().map(_.getLong(0)).count(t) / 10d
    }.sum / qids.size
    val rGeo = meanRecall(q => Vectors.annIvfPqGeo(emb, qId = q, k = 10, nProbe = 3, rerank = 100))
    val rLbl = meanRecall(q => Vectors.annIvfPq(emb, qId = q, k = 10, nProbe = 3, rerank = 100))
    info(f"ivf-pq mean recall@10: geometry cells $rGeo%.2f vs label cells $rLbl%.2f")
    // measured 0.75 vs 0.39 — demand at least half that margin so the
    // pin means something and still tolerates sample-set drift
    assert(rGeo >= rLbl + 0.15, s"geometry cells ($rGeo) must beat random label cells ($rLbl)")
  }

  test("ann: pq with rerank >= corpus reproduces brute force exactly") {
    // exact re-rank over every row = brute-force top-k, independent of
    // quantization quality — pins the ADC + re-rank plumbing
    val brute = Vectors.annTopK(emb, k = 5).collect()
      .map(r => (r.getLong(0), r.getDouble(2))).toSeq
    val pqAll = Vectors.annPq(emb, k = 5, rerank = 1000000).collect()
      .map(r => (r.getLong(0), r.getDouble(3))).toSeq
    assert(brute == pqAll)
  }

  test("ann: pq is deterministic and bounded-rerank recall is useful") {
    val a = Vectors.annPq(emb).collect().map(r => (r.getLong(0), r.getDouble(2), r.getDouble(3))).toSeq
    val b = Vectors.annPq(emb).collect().map(r => (r.getLong(0), r.getDouble(2), r.getDouble(3))).toSeq
    assert(a == b, "pq must be deterministic run-to-run")
    // default rerank=100 over the 500-vector table: the ADC ordering must
    // put a usable fraction of the true top-10 into the re-rank pool
    val brute = Vectors.annTopK(emb, k = 10).collect().map(_.getLong(0)).toSet
    val pq = a.map(_._1).toSet
    val recall = brute.intersect(pq).size / 10.0
    assert(recall >= 0.5, s"pq recall@10 too low: $recall")
    // exact cosines on the hits must match brute force bit-for-bit
    val bruteCos = Vectors.annTopK(emb, k = 10).collect()
      .map(r => r.getLong(0) -> r.getDouble(2)).toMap
    a.foreach { case (id, _, cos) =>
      bruteCos.get(id).foreach(bc => assert(bc == cos, s"vec $id cosine differs"))
    }
  }

  test("ann: cosine is within [-1, 1] and sorted descending") {
    val rows = Vectors.annTopK(emb, k = 10).collect().map(_.getDouble(2))
    assert(rows.forall(c => c >= -1.0 && c <= 1.0))
    assert(rows.sameElements(rows.sorted(Ordering[Double].reverse)))
  }

  test("ann: lsh hits carry exact brute-force cosines (a true subset of the scan)") {
    val brute = Vectors.annTopK(emb, k = Int.MaxValue - 1).collect()
      .map(r => r.getLong(0) -> r.getDouble(2)).toMap
    val lsh = Vectors.annLsh(emb, k = 10).collect()
    assert(lsh.nonEmpty)
    lsh.foreach { r =>
      assert(brute(r.getLong(0)) == r.getDouble(2),
        s"lsh cosine diverges from exact for vec ${r.getLong(0)}")
    }
    val cosines = lsh.map(_.getDouble(2))
    assert(cosines.sameElements(cosines.sorted(Ordering[Double].reverse)))
  }

  test("ann: lsh always finds an exact copy of the query vector") {
    // an identical vector has identical sign dots -> collides in EVERY
    // table; recall for true duplicates is 1 regardless of the planes
    val qv = emb.filter(col("vec_id") === 0L).select("embedding")
      .first().getSeq[Float](0).toArray
    val planted = emb.withColumn("embedding",
      when(col("vec_id") === 123L, typedlit(qv)).otherwise(col("embedding")))
    val top = Vectors.annLsh(planted, qId = 0L, k = 1).collect()
    assert(top.length == 1 && top.head.getLong(0) == 123L)
    assert(top.head.getDouble(2) >= 0.999999)
  }

  test("multimodal: stub decode preserves rows and is deterministic") {
    val a = Multimodal.mediaFeatures(docs).orderBy("doc_id").collect()
    val b = Multimodal.mediaFeatures(docs).orderBy("doc_id").collect()
    assert(a.length == docs.count())
    assert(a.map(_.toSeq).toSeq == b.map(_.toSeq).toSeq)
    // 16-byte md5 blobs -> n_bytes is always 16
    assert(a.forall(_.getInt(4) == 16))
  }

  test("multimodal: PNG encode -> decode round-trip recovers exact pixels and dimensions") {
    val feats = Multimodal.imageDecode(docs).collect()
      .map(r => r.getLong(0) -> (r.getInt(1), r.getInt(2), r.getDouble(3), r.getDouble(4), r.getDouble(5)))
      .toMap
    assert(feats.size == docs.count())
    feats.foreach { case (id, (w, h, mr, mg, mb)) =>
      assert(w == 8 && h == 8, s"doc $id: decoded dims $w x $h")
      // PNG is lossless: per-channel means must equal the synthesized
      // pixels' means exactly
      var (sr, sg, sb) = (0L, 0L, 0L)
      for (y <- 0 until 8; x <- 0 until 8) {
        val p = Multimodal.pixelRgb(id, x, y)
        sr += (p >> 16) & 0xff; sg += (p >> 8) & 0xff; sb += p & 0xff
      }
      assert(mr == sr / 64d && mg == sg / 64d && mb == sb / 64d,
        s"doc $id: decoded channel means diverge from the synthesized image")
    }
  }

  test("multimodal: WAV encode -> decode round-trip recovers format and exact PCM statistics") {
    val feats = Multimodal.audioDecode(docs).collect()
      .map(r => r.getLong(0) -> (r.getInt(1), r.getInt(2), r.getInt(3), r.getDouble(4), r.getInt(5)))
      .toMap
    assert(feats.size == docs.count())
    feats.foreach { case (id, (rate, ch, n, rms, peak)) =>
      assert(rate == 8000 && ch == 1 && n == 64, s"doc $id: format $rate/$ch/$n")
      // WAV PCM is lossless: recompute RMS/peak from the synthesized samples
      var (sumSq, expPeak) = (0d, 0)
      for (i <- 0 until 64) {
        val s = Multimodal.pcmSample(id, i).toInt
        sumSq += s.toDouble * s
        if (math.abs(s) > expPeak) expPeak = math.abs(s)
      }
      assert(rms == math.sqrt(sumSq / 64) && peak == expPeak,
        s"doc $id: decoded PCM statistics diverge")
    }
  }

  test("multimodal: frame sampling emits every stride-th fixed-size frame") {
    val frames = Multimodal.frameSample(docs, frameBytes = 4, stride = 2).collect()
    // 16-byte blobs, 4-byte frames, stride 2 -> frames 0 and 2 per doc
    assert(frames.length == 2 * docs.count())
    assert(frames.forall(_.getAs[Array[Byte]]("frame").length == 4))
    val idxs = frames.map(_.getInt(2)).distinct.sorted.toSeq
    assert(idxs == Seq(0, 2))
  }

  test("multimodal: NN resize through the real codec pins exact source-index pixel math") {
    // 8x8 -> 5x3: sx = floor(ox*8/5) = 0,1,3,4,6; sy = floor(oy*8/3) = 0,2,5
    // (non-integer ratios on both axes, so the floor math is exercised)
    val out = Multimodal.imageResize(docs, outW = 5, outH = 3).collect()
      .map(r => r.getLong(0) -> (r.getInt(1), r.getInt(2), r.getString(3))).toMap
    assert(out.size == docs.count())
    out.foreach { case (id, (w, h, hex)) =>
      assert(w == 5 && h == 3 && hex.length == 5 * 3 * 6, s"doc $id: shape $w x $h")
      val expected = (for (oy <- 0 until 3; ox <- 0 until 5) yield
        "%06x".format(Multimodal.pixelRgb(id, ox * 8 / 5, oy * 8 / 3) & 0xffffff)).mkString
      assert(hex == expected, s"doc $id: resampled pixels diverge from the NN source-index map")
    }
  }

  test("multimodal: NN resize at an integer ratio is pure decimation") {
    // 8x8 -> 4x4: sx = 2*ox, sy = 2*oy — every output pixel is an exact
    // source pixel on the even grid
    val out = Multimodal.imageResize(docs.limit(3), outW = 4, outH = 4).collect()
    out.foreach { r =>
      val (id, hex) = (r.getLong(0), r.getString(3))
      val expected = (for (oy <- 0 until 4; ox <- 0 until 4) yield
        "%06x".format(Multimodal.pixelRgb(id, 2 * ox, 2 * oy) & 0xffffff)).mkString
      assert(hex == expected, s"doc $id: 2x decimation diverges")
    }
  }
}

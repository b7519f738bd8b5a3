package graft

import org.apache.spark.sql.functions._

import graft.operators.Pipeline

/** Behavioral specs for the corpus-pipeline operators (SURVEY §2 #61-64):
  * planted positives are found, invariants hold, and the deterministic
  * hashes behave like partitions of the corpus.
  */
class PipelineSpec extends SparkSpec {

  private lazy val docs = Tables.documents(spark, sfDir)

  test("decontaminate flags exactly the docs carrying benchmark text (plus real collisions)") {
    val res = Pipeline.decontaminate(docs, graft.Fixtures.evalPrompts(docs)).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    val all = docs.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(res.keySet == all, "every training doc must be scored")
    // the eval slice is carved from doc_id % 17 = 0 docs with >= 7 words
    // (words 3..22 must contain at least one 5-gram) — those docs contain
    // the benchmark text verbatim and MUST be flagged
    val longEnough = docs
      .filter(col("doc_id") % 17 === 0 &&
        size(split(lower(trim(col("text"))), "\\s+")) >= 7)
      .collect().map(_.getLong(0))
    assert(longEnough.nonEmpty)
    longEnough.foreach { id =>
      assert(res(id)._2, s"doc $id carries benchmark text but was not flagged")
      assert(res(id)._1 > 0)
    }
    // flags agree with counts everywhere
    res.values.foreach { case (n, f) => assert(f == (n > 0)) }
  }

  test("decontaminateBloom: identical output to exact decontaminate; bloom prunes before the verify join") {
    val exact = Pipeline.decontaminate(docs, graft.Fixtures.evalPrompts(docs))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
    val bloomDf = Pipeline.decontaminateBloom(docs, graft.Fixtures.evalPrompts(docs))
    val bloom = bloomDf.collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
    assert(bloom == exact, "bloom pre-prune must not change the result")
    // the broadcast-bloom prunes sit in the corpus-side plan (inside the
    // codegen stage), not after the join: the doc-level any-contain
    // before the explode and the per-shingle contains after it
    val plan = bloomDf.queryExecution.executedPlan.toString
    assert(plan.contains("bloom_any_contain"), s"expected doc-level bloom prune in plan:\n$plan")
    assert(plan.contains("bloom_contains_long"), s"expected per-shingle bloom prune in plan:\n$plan")
  }

  test("decontaminateBloom: empty eval set flags nothing") {
    val emptyEval = docs.filter(lit(false)).select("doc_id", "text")
    val res = Pipeline.decontaminateBloom(docs, emptyEval).collect()
    assert(res.length == docs.count())
    res.foreach { r => assert(r.getLong(1) == 0L && !r.getBoolean(2)) }
  }

  test("perplexityBuckets: buckets are monotone thirds per lang; approx twin agrees off-boundary") {
    val res = Pipeline.perplexityBuckets(docs).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2), r.getString(3)))
    // every scored doc bucketed exactly once
    assert(res.map(_._1).distinct.length == res.length)
    assert(res.length == Pipeline.unigramNll(docs).count())
    res.groupBy(_._2).foreach { case (lang, rows) =>
      val byBucket = rows.groupBy(_._4).view.mapValues(_.map(_._3)).toMap
      // monotone: every head nll < every middle nll < every tail nll
      // (equal scores always share a bucket, so the order is strict)
      for (h <- byBucket.get("head"); m <- byBucket.get("middle"))
        assert(h.max < m.min, s"$lang: head/middle overlap")
      for (m <- byBucket.get("middle"); t <- byBucket.get("tail"))
        assert(m.max < t.min, s"$lang: middle/tail overlap")
      // thirds, loosely (ties at thresholds can shift counts)
      if (rows.length >= 30) Seq("head", "middle", "tail").foreach { b =>
        val n = byBucket.getOrElse(b, Array.empty[Double]).length
        assert(n >= rows.length / 6 && n <= rows.length / 2,
          s"$lang/$b: $n of ${rows.length} is not roughly a third")
      }
    }
    // the documented scale lever: approx thresholds bucket the same docs
    // away from boundaries — demand >= 90% agreement overall
    val approx = Pipeline.perplexityBuckets(docs, approx = true).collect()
      .map(r => r.getLong(0) -> r.getString(3)).toMap
    val agree = res.count { case (id, _, _, b) => approx(id) == b }
    assert(agree.toDouble / res.length >= 0.9, s"approx twin agrees on only $agree/${res.length}")
  }

  test("repetitionScore: appended-block docs score > 0, n_distinct <= n_ngrams") {
    val res = Pipeline.repetitionScore(graft.Fixtures.repeatedDocs(docs)).collect()
    assert(res.length == docs.count())
    res.foreach { r =>
      val (id, n, d, frac) = (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))
      assert(d <= n)
      assert(frac >= 0d && frac < 1d)
      // docs with the planted repeated block (and enough words to make
      // duplicate 3-grams) must score positive
      if (id % 9 == 0 && n > 8) assert(frac > 0d, s"doc $id should show repetition")
      // dup_frac is DEFINED as floor4(1 - d/n) (0 when n = 0) — pin the
      // cross-column identity for every row; the prior natural-doc branch
      // (`d == n || frac >= 0`) was a tautology that checked nothing
      val expect = if (n > 0) math.floor((1d - d.toDouble / n) * 1e4) / 1e4 else 0d
      assert(frac === expect, s"doc $id: dup_frac $frac != floor4(1 - $d/$n)")
    }
  }

  test("shuffleShards: a deterministic permutation — contiguous positions per shard, decorrelated neighbors") {
    val out = Pipeline.shuffleShards(docs, shards = 8).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out.length == docs.count())
    // every doc exactly once; per shard, positions are exactly 1..n
    assert(out.map(_._1).distinct.length == out.length)
    out.groupBy(_._2).foreach { case (s, g) =>
      assert(g.map(_._3).sorted.toSeq == (1L to g.length), s"shard $s positions not contiguous")
    }
    // deterministic across runs
    val again = Pipeline.shuffleShards(docs, shards = 8).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(again.sortBy(_._1).toSeq == out.sortBy(_._1).toSeq)
    // decorrelation: consecutive doc_ids should rarely share a shard
    // (p = 1/8 for a uniform hash; allow generous slack)
    val byId = out.sortBy(_._1)
    val sameShard = byId.sliding(2).count { case Array(a, b) => a._2 == b._2 }
    assert(sameShard.toDouble / (byId.length - 1) < 0.3,
      "consecutive docs cluster in the same shard — hash not decorrelating")
  }

  test("sampleHash: deterministic, bucket-consistent, and complementary pcts partition the corpus") {
    val s20 = Pipeline.sampleHash(docs, 20).collect().map(_.getLong(0)).toSet
    val s20again = Pipeline.sampleHash(docs, 20).collect().map(_.getLong(0)).toSet
    assert(s20 == s20again, "same pct must select the same docs")
    val all = Pipeline.sampleHash(docs, 100).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(all.size == docs.count(), "pct=100 keeps everything")
    // the pct filter must actually filter: s20 is EXACTLY the ids whose
    // bucket < 20 (a regression that ignores pct would return all docs
    // and still pass determinism/subset/range checks)
    assert(s20 === all.filter(_._2 < 20).keySet)
    assert(s20.nonEmpty && s20.size < all.size,
      s"pct=20 selectivity degenerate: ${s20.size}/${all.size}")
    // uniformity sanity: a md5 bucket keeps roughly 20% (generous band)
    val share = s20.size.toDouble / all.size
    assert(share > 0.08 && share < 0.40, s"pct=20 kept ${share * 100}%")
    // buckets match a fully independent recomputation (JDK MessageDigest,
    // not Spark's md5) of conv(substr(md5(id), 1, 15), 16, 10) % 100
    all.foreach { case (id, b) =>
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(15)
      val expect = java.lang.Long.parseLong(hex, 16) % 100
      assert(b === expect, s"doc $id bucket $b != recomputed $expect")
    }
    // complementary buckets partition: everything NOT in s20 has bucket >= 20
    assert((all.keySet -- s20).forall(id => all(id) >= 20))
  }

  test("corpusBuild: every output doc passes the filter, is a dedup survivor, packs consistently") {
    val res = Pipeline.corpusBuild(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5)))
    assert(res.nonEmpty && res.length < docs.count(), "filter + dedup must drop something")
    res.foreach { case (_, _, _, off, _, q) =>
      assert(q >= 0.5, "low-quality doc leaked through")
      assert(off >= 0 && off < 512)
    }
    // packing arithmetic replays per shard exactly (same as packSequences)
    res.groupBy(_._2).foreach { case (_, rows) =>
      var cum = 0L
      rows.sortBy(_._1).foreach { case (id, _, seq, off, tok, _) =>
        assert(seq == cum / 512 && off == cum % 512, s"doc $id packs wrong")
        cum += tok
      }
    }
    // no two surviving docs share identical cleaned text
    val survivors = res.map(_._1).toSet
    val texts = docs.collect().map(r => r.getLong(0) ->
      r.getString(r.fieldIndex("text")).trim.toLowerCase).toMap
    val byText = texts.filter { case (id, _) => survivors.contains(id) }
      .groupBy(_._2)
    assert(byText.values.forall(_.size == 1), "duplicate cleaned text among survivors")
  }

  test("packSequences: offsets stay under capacity and cumulative arithmetic is consistent") {
    val cap = 512L
    val res = Pipeline.packSequences(docs, cap).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(res.length == docs.count())
    res.foreach { case (id, shard, seq, off, tok) =>
      assert(shard == id % 32)
      assert(off >= 0 && off < cap, s"offset $off out of range for doc $id")
      assert(seq >= 0)
    }
    // replay each shard in doc_id order: seq/offset must equal the running
    // token total's chunking, and seq ids never decrease
    res.groupBy(_._2).foreach { case (_, rows) =>
      var cum = 0L
      rows.sortBy(_._1).foreach { case (id, _, seq, off, tok) =>
        assert(seq == cum / cap, s"doc $id: seq $seq != ${cum / cap}")
        assert(off == cum % cap, s"doc $id: offset $off != ${cum % cap}")
        cum += tok
      }
    }
  }

  test("quantizeInt8: round-trip error is bounded by one quantization step") {
    val emb = Tables.embeddings(spark, sfDir)
    val res = graft.operators.Vectors.quantizeInt8(emb).collect()
    assert(res.length == emb.count())
    res.foreach { r =>
      val (scale, err) = (r.getDouble(1), r.getDouble(2))
      assert(scale >= 0d)
      // |floor(x/s)*s - x| < s by construction (one step of the grid)
      assert(err >= 0d && err <= scale + 1e-9, s"err $err exceeds step $scale")
    }
  }

  test("sampleThreshold: deterministic, per-lang size binomial around the quota") {
    val a = Pipeline.sampleThreshold(docs, 30L).collect().map(r => (r.getString(0), r.getLong(1)))
    val b = Pipeline.sampleThreshold(docs, 30L).collect().map(r => (r.getString(0), r.getLong(1)))
    assert(a.toSet == b.toSet, "threshold sampling must be deterministic")
    val perLang = a.groupBy(_._1).view.mapValues(_.length).toMap
    val langs = docs.select("lang").distinct().collect().map(_.getString(0)).toSet
    assert(perLang.keySet.subsetOf(langs))
    perLang.foreach { case (lang, n) =>
      // binomial around quota=30: a generous ±3σ band still catches a
      // broken threshold (0 or everything)
      assert(n > 5 && n < 60, s"$lang sampled $n docs, expected ~30")
    }
  }

  test("dsir: planted target-like docs are up-weighted, off-target down-weighted") {
    val s = spark
    import s.implicits._
    // target ('en') speaks the A vocabulary, the off-target corpus the B
    // vocabulary; the PLANTED docs invert the pairing: a doc whose lang
    // says off-target but whose text is pure A-vocab must be up-weighted
    // (that is the entire point of DSIR — selection by content, not label)
    val aWords = Seq("alpha", "beta", "gamma", "delta", "epsilon")
    val bWords = Seq("omega", "psi", "chi", "phi", "upsilon")
    def mk(id: Long, lang: String, ws: Seq[String]) =
      (id, (0 until 12).map(i => ws(((id + i) % ws.length).toInt)).mkString(" "), lang)
    val corpus = ((0L until 30L).map(i => mk(i, "en", aWords)) ++
      (100L until 130L).map(i => mk(i, "zz", bWords)) :+
      mk(1000L, "zz", aWords) :+ // planted target-like
      mk(1001L, "zz", bWords)) // control: genuinely off-target
      .toDF("doc_id", "text", "lang")
    val res = Pipeline.dsir(corpus, targetLang = "en").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2), r.getBoolean(3)))).toMap
    assert(res.size == 62, "every doc scored")
    val (_, planted, _) = res(1000L)
    val (_, control, _) = res(1001L)
    assert(planted > 0d, s"target-like planted doc must score positive, got $planted")
    assert(control < 0d, s"off-target control must score negative, got $control")
    assert(planted > control + 0.5, s"separation too weak: $planted vs $control")
    // every genuine target doc outranks every genuine off-target doc
    val enMin = (0L until 30L).map(res(_)._2).min
    val zzMax = (100L until 130L).map(res(_)._2).max
    assert(enMin > zzMax, s"target/off-target score ranges overlap: $enMin <= $zzMax")
    // the kept cut follows the weights: neutral base rate is pct=20%, so
    // up-weighted docs are kept at a higher rate than down-weighted ones
    val enKept = (0L until 30L).count(res(_)._3)
    val zzKept = (100L until 130L).count(res(_)._3)
    assert(enKept > zzKept, s"importance cut inverted: en=$enKept zz=$zzKept")
    // n_feats = unigrams + bigrams = 12 + 11 per doc here
    assert(res(1000L)._1 == 23L)
  }

  test("unigramNll: every doc scored, positive nll, token counts match the tokenizer") {
    val res = Pipeline.unigramNll(docs).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(res.size == docs.count())
    res.foreach { case (id, (n, nll)) =>
      assert(n > 0, s"doc $id has no tokens")
      assert(nll > 0d, s"doc $id: nll must be positive under add-one smoothing")
    }
    // a doc made of corpus-frequent words must score lower than the max —
    // sanity that the model differentiates at all
    assert(res.values.map(_._2).toSet.size > 1, "nll must not be constant")
  }

  test("bigramNll: every multi-token doc scored, order sensitivity differentiates") {
    val res = Pipeline.bigramNll(docs).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    // every doc here has >= 2 tokens, so all are scored with n_bigrams = tokens - 1
    assert(res.size == docs.count())
    val tokCounts = docs.select(org.apache.spark.sql.functions.col("doc_id"),
      org.apache.spark.sql.functions.expr(
        "size(filter(split(lower(trim(text)), '\\\\s+'), t -> length(t) > 0))"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    res.foreach { case (id, (n, nll)) =>
      assert(n == tokCounts(id) - 1, s"doc $id bigram count off")
      assert(nll > 0d, s"doc $id: nll must be positive under add-one smoothing")
    }
    assert(res.values.map(_._2).toSet.size > 1, "nll must not be constant")
  }

  test("tokenPercentilesApprox: sketch stays within one grid step of exact") {
    val exact = Pipeline.tokenPercentiles(docs).collect()
      .map(r => r.getString(0) -> (r.getDouble(2), r.getDouble(3), r.getDouble(4))).toMap
    val approx = Pipeline.tokenPercentilesApprox(docs).collect()
      .map(r => r.getString(0) -> (r.getDouble(2), r.getDouble(3), r.getDouble(4))).toMap
    assert(approx.keySet == exact.keySet)
    // token counts here span ~10..100: at accuracy=10000 the sketch is
    // effectively exact up to interpolation (exact percentile interpolates
    // between adjacent counts, the sketch returns an observed value)
    approx.foreach { case (lang, (a50, a90, a99)) =>
      val (e50, e90, e99) = exact(lang)
      assert(math.abs(a50 - e50) <= 1.0, s"$lang p50: $a50 vs $e50")
      assert(math.abs(a90 - e90) <= 1.0, s"$lang p90: $a90 vs $e90")
      assert(math.abs(a99 - e99) <= 1.0, s"$lang p99: $a99 vs $e99")
    }
  }

  test("bpePairs: within-word adjacent pairs counted, ordered by freq then pair") {
    val s = spark
    import s.implicits._
    // 'aaa' -> aa,aa; 'bb' -> bb; 'ab' x2 -> ab,ab; single chars ignored
    val tiny = Seq((1L, "aaa bb", "en", "s"), (2L, "ab ab c", "en", "s"))
      .toDF("doc_id", "text", "lang", "source")
    val got = Pipeline.bpePairs(tiny).collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(got == Seq(("aa", 2L), ("ab", 2L), ("bb", 1L)))
    // corpus run: top-k, non-increasing frequency, deterministic
    val top = Pipeline.bpePairs(docs).collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(top.size == 20)
    assert(top.sliding(2).forall { case Seq(a, b) => a._2 > b._2 || (a._2 == b._2 && a._1 < b._1) })
    assert(top.forall(_._1.length == 2))
  }

  test("topTerms: contiguous ranks per lang, frequencies non-increasing") {
    val res = Pipeline.topTerms(docs).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2), r.getLong(3)))
    val byLang = res.groupBy(_._1)
    assert(byLang.keySet == docs.select("lang").distinct().collect().map(_.getString(0)).toSet)
    byLang.foreach { case (lang, rows) =>
      val sorted = rows.sortBy(_._2)
      assert(sorted.map(_._2).toSeq == (1L to rows.length).toSeq, s"$lang ranks not contiguous")
      sorted.toSeq.sliding(2).foreach { pair =>
        if (pair.length == 2) {
          val (a, b) = (pair(0), pair(1))
          assert(a._4 > b._4 || (a._4 == b._4 && a._3 < b._3), s"$lang order violated at ${b._2}")
        }
      }
    }
  }

  test("sampleStratified: exactly min(quota, |stratum|) docs per lang, rank contiguous from 1") {
    val quota = 30
    val res = Pipeline.sampleStratified(docs, quota).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val perLang = docs.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val got = res.groupBy(_._1)
    assert(got.keySet == perLang.keySet)
    got.foreach { case (lang, rows) =>
      assert(rows.length == math.min(quota.toLong, perLang(lang)))
      assert(rows.map(_._3).sorted.toSeq == (1L to rows.length).toSeq,
        s"ranks in $lang must be contiguous from 1")
    }
    // independent model: per lang, sort by (md5-derived hash, doc_id) in
    // Scala and keep the first quota — the partial window limit below the
    // exchange must not change the selected sample
    def h(id: Long): Long = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.substring(0, 15), 16)
    }
    val expected = docs.select("lang", "doc_id").collect()
      .map(r => (r.getString(0), r.getLong(1)))
      .groupBy(_._1).toSeq.flatMap { case (lang, xs) =>
        xs.map(_._2).sortBy(id => (h(id), id)).take(quota).zipWithIndex
          .map { case (id, i) => (lang, id, (i + 1).toLong) }
      }.toSet
    assert(res.toSet == expected, "the sample must be the quota smallest hashes per lang")
  }

  test("mixSample: deterministic, near-target total, up-weighted sources oversampled") {
    val a = Pipeline.mixSample(docs, targetTotal = 200L).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    val b = Pipeline.mixSample(docs, targetTotal = 200L).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    assert(a.toSet == b.toSet, "mix sampling must be deterministic")
    // binomial around 200 — a generous band still catches a broken cut
    assert(a.length > 120 && a.length < 300, s"sampled ${a.length}, expected ~200")
    // src0-9 carry 3x weight: their aggregate keep RATE must exceed the
    // down-weighted sources' (rates, not counts — sizes differ per source)
    val bySource = a.groupBy(_._1).view.mapValues(_.length).toMap
    val sizes = docs.groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    def rate(srcs: Iterable[String]): Double = {
      val kept = srcs.map(s => bySource.getOrElse(s, 0).toLong).sum.toDouble
      kept / srcs.map(sizes).sum.toDouble
    }
    val up = sizes.keys.filter(s => (0 to 9).map(i => s"src$i").contains(s))
    val down = sizes.keys.filterNot(up.toSet)
    assert(rate(up) > rate(down) * 1.5,
      s"up-weighted rate ${rate(up)} should dominate ${rate(down)}")
  }

  test("datasetCard: one row per (source, lang), counts reconcile, rates in range") {
    val card = Pipeline.datasetCard(docs).collect()
    val groups = docs.select("source", "lang").distinct().count()
    assert(card.length == groups)
    assert(card.map(_.getAs[Long]("n_docs")).sum == docs.count())
    card.foreach { r =>
      assert(r.getAs[Long]("n_tokens") > 0)
      val q = r.getAs[Double]("mean_quality")
      val k = r.getAs[Double]("gopher_keep_rate")
      assert(q >= 0.0 && q <= 1.0)
      assert(k >= 0.0 && k <= 1.0)
    }
  }
}

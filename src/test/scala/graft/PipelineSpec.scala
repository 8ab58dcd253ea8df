package graft

import org.apache.spark.sql.functions._
import graft.pipeline.{Dedup, Multimodal, Similarity, TextAnalysis}

class PipelineSpec extends SparkSuite {
  import spark.implicits._

  test("dupLineReport: hand-computed line-duplication fractions") {
    import org.apache.spark.sql.functions.col
    val df = Seq(
      // 4 lines, "nav bar" twice (5 chars ×2), one blank line ignored
      (1L, "nav bar\nreal content here\n\nnav bar\nfooter"),
      (2L, "all\nlines\ndistinct"),
      (3L, "x\nx\nx\nx"), // one distinct line, 3 duplicate occurrences
      (4L, " \n  \n")     // only space-blank lines → excluded (trim is
                          // space-only in both engines — a tabs-only
                          // line would count as content)
    ).toDF("id", "text")
    val got = pipeline.TextAnalysis.dupLineReport(df, "id", "text")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    // doc 1: 4 non-empty lines (the blank drops), 1 dup occurrence
    // ("nav bar"); chars: dup 7, total 7*2 + 17 + 6 = 37
    assert(got(1L) == ((4L, 1000000L / 4, 7000000L / 37)), s"got ${got(1L)}")
    assert(got(2L) == ((3L, 0L, 0L)))
    assert(got(3L) == ((4L, 3000000L / 4, 3000000L / 4)))
    assert(!got.contains(4L), "blank-only doc must be excluded")
    // and the composite-fixture shape really produces duplicate lines
    val comp = df.where(col("id") <= 2)
      .unionByName(Seq((5L, "nav bar\nreal content here\n\nnav bar\nfooter"))
        .toDF("id", "text"))
    assert(pipeline.TextAnalysis.dupLineReport(comp, "id", "text").count() == 3)
  }

  lazy val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog"),
    (2L, "the quick brown fox jumps over the lazy dog"), // exact dup of 1
    (3L, "the quick brown fox jumps over the lazy cat"), // near dup of 1
    (4L, "completely different content about spark engines and data"),
    (5L, "der schnelle braune fuchs und die faule katze ist nicht da"),
    (6L, "le renard brun et rapide est la au dessus des arbres"),
    (7L, "short"),
    (8L, "")).toDF("doc_id", "text")

  test("exact dedup finds the planted duplicate group") {
    val groups = Dedup.exactDupGroups(docs, "doc_id", "text").collect()
    assert(groups.length == 1)
    assert(groups.head.getAs[Long]("dup_cnt") == 2)
    assert(groups.head.getAs[Long]("keep_id") == 1L)
  }

  test("minhash signatures: identical docs share all hashes, near-dups most") {
    val sigs = Dedup.minhashSignatures(docs, "doc_id", "text", k = 4)
      .collect().map(r => r.getLong(0) -> (1 to 4).map(i => r.getString(i))).toMap
    assert(sigs(1L) == sigs(2L))
    assert(sigs(1L).zip(sigs(3L)).count { case (a, b) => a == b } >= 1)
    assert(!sigs.contains(7L) && !sigs.contains(8L)) // < 3 words -> no shingles
  }

  test("minhash LSH candidate pairs catch exact and near duplicates") {
    val pairs = Dedup.minhashCandidatePairs(docs, "doc_id", "text", k = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)))
    assert(pairs.contains((1L, 3L)) || pairs.contains((2L, 3L)))
    assert(!pairs.exists { case (a, b) => Set(a, b).intersect(Set(4L, 5L, 6L)).size == 2 })
  }

  test("simhash: equal for dups, close for near-dups, far for unrelated") {
    val sh = Dedup.simhash(docs, "doc_id", "text", bits = 64)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def hamming(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(sh(1L) == sh(2L))
    assert(hamming(sh(1L), sh(3L)) < hamming(sh(1L), sh(4L)))
  }

  test("simhash pairs: banded candidates equal brute-force within maxHamming") {
    // pigeonhole guarantee: with 4 bands and maxHamming 3 the bucketed
    // candidate join must find EXACTLY the brute-force result
    val all = Dedup.simhash(docs, "doc_id", "text", bits = 32)
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    val brute = (for {
      (a, sa) <- all; (b, sb) <- all if a < b
      h = java.lang.Long.bitCount(sa ^ sb) if h <= 3
    } yield (a, b, h.toLong)).toSet
    val got = Dedup.simhashPairs(docs, "doc_id", "text", bits = 32, bands = 4, maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == brute)
    assert(got.exists { case (a, b, h) => a == 1L && b == 2L && h == 0L }) // exact dup pair
    // the 64-bit / 16-bit-chunk default (the gate shape): same exact-recall
    // pigeonhole, verified against the 64-bit brute force — including the
    // sign-bit band (chunk 3 masks bits 48..63 of a possibly-negative Long)
    val all64 = Dedup.simhash(docs, "doc_id", "text", bits = 64)
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    val brute64 = (for {
      (a, sa) <- all64; (b, sb) <- all64 if a < b
      h = java.lang.Long.bitCount(sa ^ sb) if h <= 3
    } yield (a, b, h.toLong)).toSet
    val got64 = Dedup.simhashPairs(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got64 == brute64, s"got ${got64.size} vs brute ${brute64.size}")
  }

  test("multimodal text decode round-trips UTF-8 payloads exactly") {
    val texts = Seq((1L, "plain ascii"), (2L, "umlauts äöü and emoji ☃"), (3L, ""))
    val assets = texts.toDF("asset_id", "t")
      .select(col("asset_id"), lit("text").as("media_type"),
        col("t").cast("binary").as("payload"))
      .unionByName(Seq((9L, "image", null: String)).toDF("asset_id", "media_type", "t")
        .select(col("asset_id"), col("media_type"), col("t").cast("binary").as("payload")))
    val decoded = Multimodal.decodeTextAssets(assets)
      .collect().map(r => (r.getLong(0), r.getString(1))).toMap
    assert(decoded == texts.toMap)   // image/null rows excluded, bytes exact
  }

  test("ngram jaccard: 1.0 for exact dup, high for near dup") {
    val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text", n = 3, minSim = 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(pairs((1L, 2L)) == 1.0)
    assert(pairs((1L, 3L)) > 0.5 && pairs((1L, 3L)) < 1.0)
    assert(!pairs.contains((1L, 4L)))
  }

  test("ngram jaccard stop-shingle bound drops boilerplate join fan-out") {
    // 'the quick brown' etc appear in 3 docs; df bound 2 excludes them
    val bounded = Dedup.ngramJaccardPairs(docs, "doc_id", "text", n = 3,
      minSim = 0.0, maxShingleDf = 2)
    // pair (1,2) still found through shingles of df <= 2? all their shingles
    // have df 3 (docs 1,2,3 share the prefix) except the tail trigram
    val pairs = bounded.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val unbounded = Dedup.ngramJaccardPairs(docs, "doc_id", "text", n = 3, minSim = 0.0)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.subsetOf(unbounded))
  }

  test("dedup operators leave no session-lifetime cache entries behind") {
    // other suites cache long-lived graph tables in the shared session, so
    // the invariant is NO GROWTH, not emptiness: several invocations over
    // DIFFERENT corpora (the leak mode was one entry per corpus
    // accumulating on a long-lived session) add zero entries
    val before = org.apache.spark.sql.GraftCacheProbe.cachedEntryCount(spark)
    (0 until 3).foreach { i =>
      val corpus = docs.withColumn("text", concat(col("text"), lit(s" v$i")))
      Dedup.ngramJaccardViaMinhash(corpus, "doc_id", "text", minSim = 0.3)
        .write.mode("overwrite").format("noop").save()
      Dedup.ngramJaccardPairs(corpus, "doc_id", "text", minSim = 0.3)
        .write.mode("overwrite").format("noop").save()
      graft.pipeline.ConnectedComponents.labels(
          graft.pipeline.Curation.exactDupStarPairs(corpus, "doc_id", "text"))
        .write.mode("overwrite").format("noop").save()
    }
    val after = org.apache.spark.sql.GraftCacheProbe.cachedEntryCount(spark)
    assert(after == before, s"Dedup grew the CacheManager: $before -> $after")
  }

  lazy val vecs = Seq(
    (1L, Array(1f, 0f, 0f, 0f)),
    (2L, Array(0.99f, 0.1f, 0f, 0f)),
    (3L, Array(0f, 1f, 0f, 0f)),
    (4L, Array(0f, 0f, 1f, 1f)),
    (5L, Array(-1f, 0f, 0f, 0f))).toDF("vec_id", "embedding")

  test("int8 packed codes round-trip against int8Rows: pos order + same scale") {
    val qv = Seq(
      (1L, Array(0.5f, -1.0f, 0.25f, 0.75f)),
      (2L, Array(0f, 0f, 0f, 0f)), // all-zero vector: scale 0, codes all 0
      (3L, Array(-2f, 4f, 8f, -16f))).toDF("vec_id", "embedding")
    val longForm = graft.pipeline.Quantization.int8Rows(qv, "vec_id", "embedding")
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getDouble(3))).toMap
    val packed = graft.pipeline.Quantization.int8(qv, "vec_id", "embedding")
      .collect().map(r => r.getLong(0) -> ((r.getDouble(1), r.getSeq[Long](2)))).toMap
    assert(packed.keySet == Set(1L, 2L, 3L))
    packed.foreach { case (id, (scale, codes)) =>
      assert(codes.length == 4)
      codes.zipWithIndex.foreach { case (code, pos) =>
        val (rowCode, rowScale) = longForm((id, pos.toLong))
        assert(code == rowCode, s"vec $id pos $pos: packed $code != long-form $rowCode")
        assert(scale == rowScale)
      }
    }
    assert(packed(2L)._1 == 0.0 && packed(2L)._2.forall(_ == 0L))
    // spot-check magnitudes: max-abs element always codes to ±127
    assert(packed(3L)._2(3) == -127L)
  }

  test("brute-force cosine top-k ranks the nearest vector first") {
    val topk = Similarity.bruteForceTopK(vecs, vecs.where($"vec_id" === 1), "vec_id", "embedding", 2)
      .orderBy("rank").collect()
    assert(topk.length == 2)
    assert(topk(0).getAs[Long]("neighbor_id") == 2L)
    assert(topk(0).getAs[Double]("cos") > 0.99)
    assert(topk(1).getAs[Double]("cos") <= topk(0).getAs[Double]("cos"))
  }

  test("readabilityReport: hand-counted words/sentences/vowel-groups, zero-word guard") {
    import spark.implicits._
    val docs = Seq(
      (1L, "The cat sat. It ran!"), // 5 words, 2 sentence runs, 5 vowel groups
      (2L, "Hello..."),             // 1 word, 1 run ("..." is ONE terminator run), 2 groups
      (3L, ""))                     // zero words → flesch 0, sentences floor to 1
      .toDF("doc_id", "text")
    def flesch(w: Long, s: Long, sy: Long): Long =
      math.floor((206.835 - 1.015 * (w.toDouble / s) - 84.6 * (sy.toDouble / w))
        * 1000000.0 + 0.5).toLong
    val out = TextAnalysis.readabilityReport(docs, "doc_id", "text").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))))
      .toMap
    assert(out(1L) == ((5L, 2L, 5L, flesch(5, 2, 5))), s"got ${out(1L)}")
    assert(out(2L) == ((1L, 1L, 2L, flesch(1, 1, 2))), s"got ${out(2L)}")
    assert(out(3L) == ((0L, 1L, 0L, 0L)), s"got ${out(3L)}")
  }

  test("rrfFuse: hand-computed micro contributions, arm count, tie-break") {
    import spark.implicits._
    // 1000000 DIV (60 + rank): rank 1 → 16393, rank 2 → 16129
    val armA = Seq((1L, 10L, 1L), (1L, 11L, 2L)).toDF("query_id", "doc_id", "rank")
    val armB = Seq((1L, 11L, 1L), (1L, 12L, 2L)).toDF("query_id", "doc_id", "rank")
    val fused = Similarity.rrfFuse(Seq(armA, armB), c = 60, topK = 10).collect()
      .map(r => r.getLong(1) -> ((r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    // doc 11 appears in both arms: 16129 + 16393; docs 10/12 in one each
    assert(fused == Map(
      11L -> ((2L, 32522L, 1L)),
      10L -> ((1L, 16393L, 2L)),
      12L -> ((1L, 16129L, 3L))), s"got $fused")
    // equal-score fusions break ties toward the smaller doc id
    val tied = Similarity.rrfFuse(
      Seq(Seq((1L, 20L, 1L), (1L, 19L, 2L)).toDF("query_id", "doc_id", "rank"),
        Seq((1L, 19L, 1L), (1L, 20L, 2L)).toDF("query_id", "doc_id", "rank")),
      c = 60, topK = 1).collect()
    assert(tied.length == 1 && tied(0).getLong(1) == 19L, s"got ${tied.toSeq}")
    // topK truncates the fused ranking
    val top1 = Similarity.rrfFuse(Seq(armA, armB), c = 60, topK = 1).collect()
    assert(top1.length == 1 && top1(0).getLong(1) == 11L)
  }

  test("int8Recall: quantization collision flips the winner; orthogonal corpus survives") {
    import spark.implicits._
    // ids 1 = (1, 0.504) and 2 = (1, 0.5) both quantize dim 2 to code 64
    // (0.504·127 = 64.008 → 64; 0.5·127 + 0.5 = 64 → 64): identical
    // reconstructions, so the served tie-break picks id 1 — but the exact
    // top-1 for query (1, 0.5) is id 2 (perfectly parallel). recall@1 = 0.
    val corpus = Seq((1L, Array(1.0f, 0.504f)), (2L, Array(1.0f, 0.5f)))
      .toDF("vec_id", "embedding")
    val q = Seq((9L, Array(1.0f, 0.5f))).toDF("vec_id", "embedding")
    val flipped = pipeline.Quantization.int8Recall(corpus, q, "vec_id", "embedding", k = 1)
      .collect()(0)
    assert((flipped.getLong(0), flipped.getLong(1), flipped.getLong(2),
      flipped.getLong(3), flipped.getDouble(4)) == ((1L, 1L, 1L, 0L, 0.0)),
      s"got $flipped")
    // axis-aligned corpus reconstructs exactly → recall 1
    val ortho = Seq((1L, Array(1.0f, 0.0f)), (2L, Array(0.0f, 1.0f)))
      .toDF("vec_id", "embedding")
    val clean = pipeline.Quantization.int8Recall(ortho,
      Seq((9L, Array(1.0f, 0.1f))).toDF("vec_id", "embedding"),
      "vec_id", "embedding", k = 1).collect()(0)
    assert(clean.getLong(3) == 1L && clean.getDouble(4) == 1.0, s"got $clean")
  }

  test("matryoshkaRecall: truncated prefix misranks, full prefix recovers") {
    import spark.implicits._
    // query 1 = [1, 0]; neighbor 5 = [1, 0.01] is the true top-1, but on
    // the 1-dim prefix both candidates tie at cos 1.0 and the id tiebreak
    // picks 2 — so recall@1 is 0 at d=1 and 1 at d=2
    val corpus = Seq(
      (1L, Array(1.0f, 0.0f)),
      (2L, Array(0.9f, -0.43f)),
      (5L, Array(1.0f, 0.01f))).toDF("vec_id", "embedding")
    val out = Similarity.matryoshkaRecall(corpus,
        corpus.where($"vec_id" === 1), "vec_id", "embedding",
        k = 1, prefixes = Seq(1, 2)).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getDouble(5)))).toMap
    assert(out(1L) == ((1L, 1L, 1L, 0L, 0.0)), s"got ${out(1L)}")
    assert(out(2L) == ((1L, 1L, 1L, 1L, 1.0)), s"got ${out(2L)}")
  }

  test("embedding cosine near-dup pairs") {
    val pairs = Dedup.embeddingCosinePairs(vecs, "vec_id", "embedding", 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((1L, 2L)))
  }

  test("LSH top-k: same-direction vectors share buckets and are found") {
    val res = Similarity.lshTopK(vecs, vecs.where($"vec_id" === 1), "vec_id", "embedding", k = 3, planes = 4)
      .collect()
    // vector 2 is nearly identical to 1 -> same signs on every plane
    assert(res.map(_.getAs[Long]("neighbor_id")).contains(2L))
  }

  test("annRecallReport: one row per method, recall in [0,1], hits bounded") {
    import spark.implicits._
    // 40 vectors in 2 clusters; queries = first 6 ids
    val corpus = (0 until 40).map { i =>
      val base = if (i % 2 == 0) Array(1.0f, 0.1f, 0.0f, 0.0f) else Array(0.0f, 0.0f, 1.0f, 0.1f)
      (i.toLong, base.zipWithIndex.map { case (x, d) => x + 0.01f * ((i * 7 + d) % 5) })
    }.toDF("vec_id", "embedding")
    val rep = Similarity.annRecallReport(corpus, corpus.where($"vec_id" < 6),
      "vec_id", "embedding", k = 3, planes = 2, nlist = 8, nprobe = 2,
      m = 2, codewords = 8)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5)))).toMap
    assert(rep.keySet == Set("lsh", "ivf", "ivfpq", "ivfpq_rerank"))
    rep.foreach { case (m, (nq, nx, nf, nh, rec)) =>
      assert(nq == 6 && nx == 18, s"$m: $nq/$nx")
      assert(nh <= nf && nh <= nx, s"$m: hits $nh found $nf exact $nx")
      assert(rec >= 0.0 && rec <= 1.0 && math.abs(rec - nh.toDouble / nx) < 1e-4)
    }
    // exact rescoring over a candidate superset can only help recall
    assert(rep("ivfpq_rerank")._4 >= rep("ivfpq")._4,
      s"rerank lost hits: ${rep("ivfpq_rerank")} vs ${rep("ivfpq")}")
  }

  test("ivfNprobeSweep: monotone rungs, deepest rung consistent with ivfTopK") {
    import spark.implicits._
    val corpus = (0 until 40).map { i =>
      val base = if (i % 2 == 0) Array(1.0f, 0.1f, 0.0f, 0.0f) else Array(0.0f, 0.0f, 1.0f, 0.1f)
      (i.toLong, base.zipWithIndex.map { case (x, d) => x + 0.01f * ((i * 7 + d) % 5) })
    }.toDF("vec_id", "embedding")
    val queries = corpus.where($"vec_id" < 6)
    val sweep = Similarity.ivfNprobeSweep(corpus, queries, "vec_id", "embedding",
        k = 3, nlist = 8, nprobes = Seq(1, 2, 4))
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(3), r.getLong(5), r.getDouble(6)))).toMap
    // deeper probing can only see MORE candidates and MORE exact hits
    val ladder = Seq(1L, 2L, 4L).map(sweep)
    assert(ladder.map(_._1) == ladder.map(_._1).sorted, s"candidates not monotone: $sweep")
    assert(ladder.map(_._2) == ladder.map(_._2).sorted, s"hits not monotone: $sweep")
    ladder.foreach { case (_, _, rec) => assert(rec >= 0.0 && rec <= 1.0) }
    // the deepest rung is the PRODUCTION operator's recall: its found set
    // must equal ivfTopK at the same nprobe, pair for pair
    val exact = Similarity.bruteForceTopK(corpus, queries, "vec_id", "embedding", 3)
      .select($"query_id".cast("long"), $"neighbor_id".cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf = Similarity.ivfTopK(corpus, queries, "vec_id", "embedding",
        k = 3, nlist = 8, nprobe = 4)
      .select($"query_id".cast("long"), $"neighbor_id".cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(sweep(4L)._2 == ivf.count(exact.contains),
      s"deepest rung hits ${sweep(4L)._2} != ivfTopK-derived ${ivf.count(exact.contains)}")
  }

  test("hardNegatives: brute-force parity at full probe depth, labels always differ") {
    import spark.implicits._
    val corpus = (0 until 30).map { i =>
      val base = if (i % 2 == 0) Array(1.0f, 0.1f, 0.0f, 0.0f) else Array(0.0f, 0.0f, 1.0f, 0.1f)
      (i.toLong, base.zipWithIndex.map { case (x, d) => x + 0.01f * ((i * 7 + d) % 5) },
        i % 3) // labels 0/1/2 cut ACROSS the two geometric clusters
    }.toDF("vec_id", "embedding", "label")
    val cents = corpus.where($"vec_id" < 30) // every vector its own list
      .select($"vec_id".cast("long").as("cid"), $"embedding".as("centroid"))
    // nprobe = nlist => every list probed => candidate set is the full corpus;
    // the result must equal the driver-side brute force over different-label pairs
    val got = Similarity.hardNegatives(corpus, corpus.where($"vec_id" < 5), cents,
        "vec_id", "embedding", "label", k = 3, nprobe = 30)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4), r.getInt(5))).sortBy(t => (t._1, t._6))
    val vecs = corpus.collect().map(r =>
      (r.getLong(0), r.getSeq[Float](1).toArray, r.getInt(2))).toSeq
    def cos(a: Array[Float], b: Array[Float]): Double = {
      val dot = a.zip(b).map { case (x, y) => x.toDouble * y.toDouble }.sum
      val na = math.sqrt(a.map(x => x.toDouble * x).sum)
      val nb = math.sqrt(b.map(x => x.toDouble * x).sum)
      BigDecimal(dot / (na * nb)).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    val want = vecs.filter(_._1 < 5).flatMap { case (qid, qv, ql) =>
      vecs.filter(v => v._1 != qid && v._3 != ql)
        .map(v => (qid, ql.toLong, v._1, v._3.toLong, cos(qv, v._2)))
        .sortBy(t => (-t._5, t._3)).take(3).zipWithIndex
        .map { case (t, i) => (t._1, t._2, t._3, t._4, t._5, i + 1) }
    }.sortBy(t => (t._1, t._6))
    assert(got.toSeq == want, s"hard negatives diverge:\n got=$got\nwant=$want")
    assert(got.forall(t => t._2 != t._4), "same-label pair leaked")
  }

  test("contrastivePairs: brute-force parity for both roles at full probe depth") {
    import spark.implicits._
    val corpus = (0 until 30).map { i =>
      val base = if (i % 2 == 0) Array(1.0f, 0.1f, 0.0f, 0.0f) else Array(0.0f, 0.0f, 1.0f, 0.1f)
      (i.toLong, base.zipWithIndex.map { case (x, d) => x + 0.01f * ((i * 7 + d) % 5) },
        i % 3)
    }.toDF("vec_id", "embedding", "label")
    val cents = corpus
      .select($"vec_id".cast("long").as("cid"), $"embedding".as("centroid"))
    val got = Similarity.contrastivePairs(corpus, corpus.where($"vec_id" < 5), cents,
        "vec_id", "embedding", "label", kNeg = 3, nprobe = 30)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4), r.getString(5), r.getLong(6))).sortBy(t => (t._1, t._6, t._7))
    val vecs = corpus.collect().map(r =>
      (r.getLong(0), r.getSeq[Float](1).toArray, r.getInt(2))).toSeq
    def cos(a: Array[Float], b: Array[Float]): Double = {
      val dot = a.zip(b).map { case (x, y) => x.toDouble * y.toDouble }.sum
      val na = math.sqrt(a.map(x => x.toDouble * x).sum)
      val nb = math.sqrt(b.map(x => x.toDouble * x).sum)
      BigDecimal(dot / (na * nb)).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    val want = vecs.filter(_._1 < 5).flatMap { case (qid, qv, ql) =>
      val others = vecs.filter(_._1 != qid)
      val pos = others.filter(_._3 == ql)
        .map(v => (qid, ql.toLong, v._1, v._3.toLong, cos(qv, v._2), "positive"))
        .sortBy(t => (-t._5, t._3)).take(1).zipWithIndex
        .map { case (t, i) => (t._1, t._2, t._3, t._4, t._5, t._6, (i + 1).toLong) }
      val neg = others.filter(_._3 != ql)
        .map(v => (qid, ql.toLong, v._1, v._3.toLong, cos(qv, v._2), "negative"))
        .sortBy(t => (-t._5, t._3)).take(3).zipWithIndex
        .map { case (t, i) => (t._1, t._2, t._3, t._4, t._5, t._6, (i + 1).toLong) }
      pos ++ neg
    }.sortBy(t => (t._1, t._6, t._7))
    assert(got.toSeq == want, s"contrastive pairs diverge:\n got=$got\nwant=$want")
    // every anchor has exactly one positive and kNeg negatives here
    val byAnchor = got.groupBy(_._1)
    assert(byAnchor.values.forall(g =>
      g.count(_._6 == "positive") == 1 && g.count(_._6 == "negative") == 3))
  }

  test("knnLabelVote: brute-force parity at full probe depth, mismatch flags planted noise") {
    import spark.implicits._
    // two tight geometric clusters; labels follow the cluster EXCEPT two
    // planted noise rows whose label crosses over
    val corpus = (0 until 24).map { i =>
      val cluster = i % 2
      val base = if (cluster == 0) Array(1.0f, 0.1f, 0.0f, 0.0f) else Array(0.0f, 0.0f, 1.0f, 0.1f)
      val lbl = if (i == 4) 1 - cluster else if (i == 7) 1 - cluster else cluster
      (i.toLong, base.zipWithIndex.map { case (x, d) => x + 0.005f * ((i * 7 + d) % 5) }, lbl)
    }.toDF("vec_id", "embedding", "label")
    val cents = corpus.select($"vec_id".cast("long").as("cid"), $"embedding".as("centroid"))
    val got = Similarity.knnLabelVote(corpus, corpus, cents,
        "vec_id", "embedding", "label", k = 5, nprobe = 24)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getBoolean(4)))).toMap
    // driver-side brute force: top-5 by (cos desc, id asc), majority vote
    val vecs = corpus.collect().map(r =>
      (r.getLong(0), r.getSeq[Float](1).toArray, r.getInt(2).toLong)).toSeq
    def cos(a: Array[Float], b: Array[Float]): Double = {
      val dot = a.zip(b).map { case (x, y) => x.toDouble * y.toDouble }.sum
      BigDecimal(dot / (math.sqrt(a.map(x => x.toDouble * x).sum) *
        math.sqrt(b.map(x => x.toDouble * x).sum)))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    val want = vecs.map { case (qid, qv, ql) =>
      val top = vecs.filter(_._1 != qid)
        .map(v => (v._1, v._3, cos(qv, v._2))).sortBy(t => (-t._3, t._1)).take(5)
      val (lbl, votes) = top.groupBy(_._2).view.mapValues(_.size).toSeq
        .sortBy { case (l, n) => (-n, l) }.head
      qid -> ((ql, lbl, votes.toLong, lbl != ql))
    }.toMap
    assert(got == want, s"vote report diverges:\n got=$got\nwant=$want")
    // the planted cross-labeled rows are flagged; clean rows are not
    assert(got(4L)._4 && got(7L)._4, "planted noise rows not flagged")
    assert(!got(0L)._4 && !got(1L)._4, "clean rows falsely flagged")
  }

  test("langid distinguishes the marker languages") {
    val got = docs.select($"doc_id", TextAnalysis.langId($"text").as("lang"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got(1L) == "en")
    assert(got(5L) == "de")
    assert(got(6L) == "fr")
    assert(got(7L) == "und")
  }

  test("quality scoring: real text beats empty/short") {
    val q = docs.select($"doc_id", TextAnalysis.qualityScore($"text").as("q"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(q(1L) > q(7L))
    // empty text: only the no-digit-noise term contributes
    assert(q(8L) == 0.2)
  }

  test("token counts: whitespace and BPE-ish") {
    val r = Seq((1L, "Hello, world! 42 times"))
      .toDF("doc_id", "text")
      .select(TextAnalysis.wordCount($"text").as("w"), TextAnalysis.tokenCount($"text").as("t"))
      .head()
    assert(r.getInt(0) == 4)  // hello world 42 times
    assert(r.getInt(1) == 6)  // Hello , world ! 42 times
  }

  test("repetition signals: hand-computed fractions, short docs score zero") {
    val fixture = Seq(
      (1L, "a a b"),       // words 3/2 distinct; 2-grams {a a, a b}; 3-gram {a a b}
      (2L, "w w w w"),     // all same word; "w w" x3; "w w w" x2
      (3L, "x"),           // no grams at all
      (4L, ""),            // empty
      (5L, "p q r s"))     // no repeats; top 2-gram still claims 1/3 of occurrences
      .toDF("doc_id", "text")
    val out = TextAnalysis.repetitionTable(fixture, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2), r.getDouble(3))).toMap
    assert(out(1L) == ((0.3333, 0.5, 0.0)))
    assert(out(2L) == ((0.75, 1.0, 0.5)))
    assert(out(3L) == ((0.0, 0.0, 0.0)))
    assert(out(4L) == ((0.0, 0.0, 0.0)))
    assert(out(5L) == ((0.0, 0.3333, 0.0)))
  }

  test("fingerprint: stable under formatting, changes with content") {
    val f = Seq(
      (1L, "the quick brown fox jumps over it"),
      (2L, "The  quick   BROWN fox; jumps over it!"),
      (3L, "something else entirely here today now"))
      .toDF("doc_id", "text")
      .select($"doc_id", TextAnalysis.fingerprint($"text").as("f"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(f(1L) == f(2L))
    assert(f(1L) != f(3L))
  }

  test("multimodal: feature extraction over binary payloads, nulls skipped") {
    val assets = Multimodal.syntheticAssets(spark, 30)
    assert(assets.schema.fieldNames.toSeq ==
      Multimodal.assetSchema.fieldNames.toSeq.filterNot(_ == "payload") :+ "payload" ||
      assets.columns.contains("payload"))
    val feats = Multimodal.extractFeatures(assets).collect()
    assert(feats.length == 30)
    assert(feats.forall(_.features.length == 8))
    // deterministic: same payload -> same features
    val again = Multimodal.extractFeatures(assets).collect()
    assert(feats.sortBy(_.assetId).zip(again.sortBy(_.assetId))
      .forall { case (a, b) => a.sha == b.sha && a.features.sameElements(b.features) })
    // null payloads skipped
    val withNull = assets.withColumn("payload",
      when(col("asset_id") === 0, lit(null).cast("binary")).otherwise(col("payload")))
    assert(Multimodal.extractFeatures(withNull).count() == 29)
  }

  test("multimodal: REAL PNG decode recovers the pixel formula exactly") {
    val assets = Multimodal.syntheticImageAssets(spark, 12)
    // payloads are genuine PNGs
    val head = assets.orderBy("asset_id").select("payload").head.getAs[Array[Byte]](0)
    assert(head.slice(1, 4).map(_.toChar).mkString == "PNG")
    val feats = Multimodal.imageFeatures(assets).collect().map(f => f.asset_id -> f).toMap
    assert(feats.size == 12)
    // hand-compute asset 0: 4x4 canvas, r=(7x+13y)%256 g=(3x+5y)%256 b=(19x+23y)%256
    val px = for { y <- 0 until 4; x <- 0 until 4 } yield
      ((7 * x + 13 * y) % 256, (3 * x + 5 * y) % 256, (19 * x + 23 * y) % 256)
    val f0 = feats(0L)
    assert(f0.width == 4 && f0.height == 4 && f0.n_px == 16)
    assert(f0.sum_r == px.map(_._1).sum && f0.sum_g == px.map(_._2).sum && f0.sum_b == px.map(_._3).sum)
    val lums = px.map { case (r, g, b) => (r * 299 + g * 587 + b * 114) / 1000 }
    assert(f0.sum_luma == lums.sum)
    assert(f0.n_l0 == lums.count(_ / 64 == 0) && f0.n_l3 == lums.count(_ / 64 == 3))
  }

  test("multimodal: REAL resize downsamples by nearest-neighbor, exactly") {
    val assets = Multimodal.syntheticImageAssets(spark, 10)
    val resized = Multimodal.resizeImages(assets, maxDim = 5)
    val dims = resized.collect().map(r =>
      r.getAs[Long]("asset_id") -> ((r.getAs[Int]("width"), r.getAs[Int]("height")))).toMap
    // asset 4: 8x5 canvas -> scale 5/8 -> 5x3 (floor(5*0.625)=3)
    assert(dims(4L) == ((5, 3)), s"asset 4 dims ${dims(4L)}")
    // asset 0: 4x4 already inside the box -> unchanged
    assert(dims(0L) == ((4, 4)))
    // features of the resized asset 4 match the nearest-neighbor formula:
    // source pixel (x*8/5, y*5/3) of the generation formula for id=4
    val f = Multimodal.imageFeatures(resized).collect()
      .map(x => x.asset_id -> x).toMap.apply(4L)
    val px = for { y <- 0 until 3; x <- 0 until 5 } yield {
      val sx = x * 8 / 5; val sy = y * 5 / 3
      ((4 * 31 + sx * 7 + sy * 13) % 256, (4 * 17 + sx * 3 + sy * 5) % 256,
        (4 * 11 + sx * 19 + sy * 23) % 256)
    }
    assert(f.n_px == 15 && f.sum_r == px.map(_._1).sum && f.sum_b == px.map(_._3).sum)
  }

  test("multimodal: REAL video decode frame-samples an animated GIF exactly") {
    val vids = Multimodal.syntheticVideoAssets(spark, 8)
    val by = Multimodal.videoFrameFeatures(vids, everyK = 2).collect().groupBy(_.asset_id)
    // asset 5: 4x6 canvas, 4 frames -> samples frames 0 and 2
    assert(by(5L).map(_.frame_idx).sorted.sameElements(Array(0L, 2L)))
    // asset 3: 3 + 3%4 = 6 frames -> samples 0, 2, 4
    assert(by(3L).map(_.frame_idx).sorted.sameElements(Array(0L, 2L, 4L)))
    // frame 2 of asset 5 recovers the generation formula bit-for-bit
    val f52 = by(5L).find(_.frame_idx == 2L).get
    val px = for { y <- 0 until 6; x <- 0 until 4 } yield
      ((5 * 31 + 2 * 29 + x * 7 + y * 13) % 256, (5 * 17 + 2 * 37 + x * 3 + y * 5) % 256,
        (5 * 11 + 2 * 41 + x * 19 + y * 23) % 256)
    assert(f52.width == 4 && f52.height == 6 && f52.n_px == 24)
    assert(f52.sum_r == px.map(_._1).sum && f52.sum_g == px.map(_._2).sum &&
      f52.sum_b == px.map(_._3).sum)
    val lums = px.map { case (r, g, b) => (r * 299 + g * 587 + b * 114) / 1000 }
    assert(f52.sum_luma == lums.sum && f52.n_l1 == lums.count(_ / 64 == 1))
  }

  test("multimodal: REAL WAV decode recovers the PCM sample formula exactly") {
    val assets = Multimodal.syntheticAudioAssets(spark, 10)
    // payloads are genuine RIFF/WAVE containers
    val head = assets.orderBy("asset_id").select("payload").head.getAs[Array[Byte]](0)
    assert(head.slice(0, 4).map(_.toChar).mkString == "RIFF")
    assert(head.slice(8, 12).map(_.toChar).mkString == "WAVE")
    val feats = Multimodal.audioFeatures(assets).collect().map(f => f.asset_id -> f).toMap
    assert(feats.size == 10)
    // hand-compute asset 3: 112 samples of ((4*2654435761 + 40503 t) % 4001) - 2000
    val n = 64 + 16 * 3
    val samples = (0 until n).map(t => ((4L * 2654435761L + t.toLong * 40503L) % 4001L - 2000L).toInt)
    val f3 = feats(3L)
    assert(f3.n_samples == n)
    assert(f3.sum_amp == samples.map(_.toLong).sum)
    assert(f3.sum_sq == samples.map(s => s.toLong * s).sum)
    assert(f3.max_abs == samples.map(s => math.abs(s.toLong)).max)
    val zc = samples.sliding(2).count(p => (p(0) < 0) != (p(1) < 0))
    assert(f3.zero_crossings == zc)
  }

  test("bm25: query terms retrieve the containing docs first, dups tie") {
    val q = Seq((100L, "quick brown fox")).toDF("qid", "qtext")
    val top = TextAnalysis.bm25TopK(docs, q, "doc_id", "text", "qid", "qtext", topK = 3)
      .orderBy("rank").collect()
    // docs 1, 2, 3 all contain every query term once at equal length ->
    // equal scores, ranked by id; nothing else shares a term
    assert(top.map(_.getAs[Long]("doc_id")).toSeq == Seq(1L, 2L, 3L))
    assert(top.map(_.getAs[Double]("score")).distinct.length == 1)
    assert(top.forall(_.getAs[Double]("score") > 0))
  }

  test("duplicated-window stats: hand-computed fractions, short docs zero") {
    val fixture = Seq(
      (1L, "a b c"), // windows {a b, b c}; "a b" shared with doc 2
      (2L, "a b d"),
      (3L, "x"),     // too short for any window
      (4L, "")).toDF("doc_id", "text")
    val out = Dedup.duplicatedWindowStats(fixture, "doc_id", "text", n = 2)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(out(1L) == ((2L, 1L, 0.5)))
    assert(out(2L) == ((2L, 1L, 0.5)))
    assert(out(3L) == ((0L, 0L, 0.0)))
    assert(out(4L) == ((0L, 0L, 0.0)))
  }

  test("containment: subset doc scores 1.0 where jaccard cannot") {
    val fixture = Seq(
      (1L, "a b c d e f"),            // 4 trigram shingles, all inside doc 2
      (2L, "a b c d e f g h i j k l"), // 10 shingles
      (3L, "z y x w v u")).toDF("doc_id", "text")
    val cand = Seq((1L, 2L), (1L, 3L)).toDF("a", "b")
    val got = Dedup.containmentVerifyPairs(fixture, cand, "doc_id", "text",
        n = 3, minContain = 0.0)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(got((1L, 2L)) == 1.0)
    assert(!got.contains((1L, 3L))) // zero shared shingles -> no pair at all
    val j = Dedup.jaccardVerifyPairs(fixture, cand, "doc_id", "text",
        n = 3, minSim = 0.0)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(j((1L, 2L)) == 0.4) // 4 / (4 + 10 - 4): the size-imbalance penalty
  }

  test("semantic pairs at k=1 equal the bounded all-pairs cosine") {
    def asSet(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val sem = asSet(Dedup.semanticPairs(vecs, "vec_id", "embedding",
      k = 1, iters = 1, minCos = 0.9))
    val brute = asSet(Dedup.embeddingCosinePairs(vecs, "vec_id", "embedding", 0.9))
    assert(sem == brute && sem.nonEmpty)
    // more clusters only ever SHRINK the candidate set (recall trade)
    val sem2 = asSet(Dedup.semanticPairs(vecs, "vec_id", "embedding",
      k = 2, iters = 1, minCos = 0.9))
    assert(sem2.subsetOf(brute))
  }

  test("semantic dedup keeps the min-id survivor per cluster") {
    val out = graft.pipeline.Curation.dedupSemanticKeepFirst(
        vecs, "vec_id", "embedding", k = 1, iters = 1, minCos = 0.9)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    // (1, 2) is the only pair at cos >= 0.9 -> 2 drops, everything else stays
    assert(out == Set(1L, 3L, 4L, 5L))
  }

  test("product quantization: self-encoding codebook, smallest-cid ties") {
    val enc = graft.pipeline.Quantization.pqEncode(vecs, "vec_id", "embedding", m = 2, k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> ((r.getLong(2), r.getDouble(3)))).toMap
    assert(enc.size == 10) // 5 vectors x 2 subspaces
    assert(enc.keySet.map(_._2) == Set(0L, 1L))
    // ids 1 and 2 are in the codebook (numeric id < k): zero residual...
    assert(enc((1L, 0L)) == ((1L, 0.0)) && enc((1L, 1L)) == ((1L, 0.0)))
    assert(enc((2L, 0L)) == ((2L, 0.0)))
    // ...and sub 1 of vectors 1 and 2 are BOTH (0,0): the tie must break
    // to the smallest codeword id
    assert(enc((2L, 1L)) == ((1L, 0.0)))
    assert(enc.values.forall { case (code, err2) => (code == 1L || code == 2L) && err2 >= 0.0 })
  }

  test("pq ADC top-k: deterministic id tie-break, self excluded") {
    // with this fixture every non-query vector encodes to the same codes
    // (2, 1), so all ADC distances tie and ranking is purely the id
    // tie-break — the determinism contract under maximal stress
    val res = graft.pipeline.Quantization.pqTopK(vecs, vecs.where($"vec_id" === 1),
        "vec_id", "embedding", k = 3, m = 2, codewords = 3)
      .orderBy("rank").collect()
    assert(res.map(_.getAs[Long]("neighbor_id")).toSeq == Seq(2L, 3L, 4L))
    assert(res.map(_.getAs[Double]("dist")).distinct.length == 1)
    assert(!res.exists(_.getAs[Long]("neighbor_id") == 1L))
  }

  test("cross-source dup matrix counts pairs from tallies, incl diagonal") {
    val df = Seq(
      (1L, "same", "A"), (2L, "same", "A"), (3L, "same", "B"), // A:2, B:1
      (4L, "uniq", "B")).toDF("doc_id", "text", "source")
    val got = Dedup.crossSourceDupMatrix(df, "doc_id", "text", "source")
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    // cross A-B: 2x1 = 2 pairs; within-A: C(2,2) = 1; within-B: none
    assert(got == Map(("A", "B") -> 2L, ("A", "A") -> 1L))
  }

  test("centroid outliers: descending distance, deterministic size") {
    val out = graft.pipeline.Clustering.centroidOutliers(
      vecs, "vec_id", "embedding", k = 1, iters = 1, topN = 3).collect()
    assert(out.length == 3)
    val d = out.map(_.getAs[Double]("dist2"))
    assert(d.sameElements(d.sortBy(-_)) && d.forall(_ >= 0.0))
  }

  test("clusterPrototypes: closest-per-cluster, partitioning-invariant two-phase top-m") {
    import spark.implicits._
    // two well-separated line clusters; distances to each fitted centroid
    // are hand-rankable: the prototype of each cluster is its inner point
    val pts = Seq(
      (1L, Seq(0.0f, 0.0f)), (2L, Seq(1.0f, 0.0f)), (3L, Seq(2.0f, 0.0f)),
      (11L, Seq(100.0f, 0.0f)), (12L, Seq(101.0f, 0.0f)), (13L, Seq(104.0f, 0.0f))
    ).toDF("vec_id", "embedding")
    def run(df: org.apache.spark.sql.DataFrame) =
      graft.pipeline.Clustering.clusterPrototypes(df, "vec_id", "embedding",
        k = 2, iters = 2, perCluster = 2).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
        .sortBy(t => (t._2, t._3))
    val base = run(pts)
    // every cluster contributes exactly perCluster rows, rank 1..m, dist asc
    assert(base.length == 4)
    base.groupBy(_._2).foreach { case (_, rows) =>
      assert(rows.map(_._3).toSeq == Seq(1L, 2L))
      assert(rows.map(_._4).toSeq == rows.map(_._4).toSeq.sorted)
    }
    // cluster means: (1,0) and (101.666..,0): rank-1 prototypes are 2 and 12
    val rank1 = base.filter(_._3 == 1L).map(_._1).toSet
    assert(rank1 == Set(2L, 12L), s"got $rank1")
    // the local-prune phase must be invariant to input partitioning
    assert(run(pts.repartition(7)).toSeq == base.toSeq)
    assert(run(pts.coalesce(1)).toSeq == base.toSeq)
  }

  test("ivf-pq residual search: ranked, deterministic, monotone in nprobe") {
    // Residual encoding (round 10) intentionally departs from raw-PQ ADC
    // — the codebooks quantize residuals to the FITTED coarse centroids —
    // so the old "one list == plain PQ" identity no longer holds. Pin the
    // invariants the residual architecture does guarantee instead.
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
    val q = vecs.where($"vec_id" < 3)
    def run(nprobe: Int) = graft.pipeline.Quantization.ivfPqTopK(
      vecs, q, "vec_id", "embedding", k = 3, nlist = 2, nprobe = nprobe,
      m = 2, codewords = 3)
    val r1 = rows(run(1))
    val r2 = rows(run(2))
    assert(r2.nonEmpty)
    // per query: ranks are 1..n and ADC distance is ascending with rank
    Seq(r1, r2).foreach { rs =>
      rs.groupBy(_._1).values.foreach { g =>
        val sorted = g.sortBy(_._4)
        assert(sorted.map(_._4).toSeq == (1L to g.length).toSeq, s"ranks: $g")
        assert(sorted.map(_._3).toSeq == sorted.map(_._3).sortBy(identity).toSeq,
          s"dist not ascending: $g")
      }
    }
    // deterministic: training + encode + search replays identically
    assert(rows(run(2)).toSet == r2.toSet)
    // probing every list can only find at least as many neighbors per
    // query as probing one
    val n1 = r1.groupBy(_._1).view.mapValues(_.length).toMap
    val n2 = r2.groupBy(_._1).view.mapValues(_.length).toMap
    assert(n2.keySet.forall(k => n1.getOrElse(k, 0) <= n2(k)), s"$n1 vs $n2")
    // never returns self-matches and never exceeds k
    assert(r2.forall(t => t._1 != t._2))
    assert(n2.values.forall(_ <= 3))
  }

  test("ivf-pq rerank: exact scores, exact order within the candidate window") {
    val q = vecs.where($"vec_id" < 3)
    val (cent, cb) = graft.pipeline.Quantization.ivfPqIndex(
      vecs, "vec_id", "embedding", nlist = 2, m = 2, codewords = 3)
    val rer = graft.pipeline.Quantization.ivfPqTopKRerank(
        vecs, q, "vec_id", "embedding", k = 2, rerank = 3, nprobe = 2, m = 2, cent, cb)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
    assert(rer.nonEmpty)
    // the reported score is the EXACT cosine (matches brute force for the
    // same (query, neighbor) pair), and ranks descend by it
    val exact = graft.pipeline.Similarity.bruteForceTopK(
        vecs, q, "vec_id", "embedding", k = 100)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    rer.foreach { case (qid, nid, cos, _) =>
      assert(exact((qid, nid)) == cos, s"rerank cos diverges from exact for ($qid,$nid)")
    }
    rer.groupBy(_._1).values.foreach { g =>
      val sorted = g.sortBy(_._4)
      assert(sorted.map(_._4).toSeq == (1L to g.length).toSeq)
      assert(sorted.map(_._3).reverse.toSeq == sorted.map(_._3).sortBy(identity).toSeq,
        s"cos not descending with rank: $g")
    }
    // no self matches, never exceeds k
    assert(rer.forall(t => t._1 != t._2))
    assert(rer.groupBy(_._1).values.forall(_.length <= 2))
    // rerank recall >= plain ADC recall at the same k (candidate window
    // can only add the true neighbors ADC misranked within it)
    def hits(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .count { case (qid, nid) =>
        exact.contains((qid, nid)) &&
          exact((qid, nid)) >= exact.filter(_._1._1 == qid).values.toSeq
            .sorted(Ordering[Double].reverse).take(2).min }
    val adc = graft.pipeline.Quantization.ivfPqTopKWith(
      vecs, q, "vec_id", "embedding", k = 2, nprobe = 2, m = 2, cent, cb)
    val rerDf = graft.pipeline.Quantization.ivfPqTopKRerank(
      vecs, q, "vec_id", "embedding", k = 2, rerank = 3, nprobe = 2, m = 2, cent, cb)
    assert(hits(rerDf) >= hits(adc), "rerank lost recall vs plain ADC")
  }

  test("ann index: build/save/load/search equals the direct ivf-pq search") {
    // the persisted-index lifecycle must be RESULT-IDENTICAL to the
    // in-line path: same quantizers, same codes, same ADC arithmetic —
    // the parquet round-trip may not perturb a single bit (doubles are
    // stored binary)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSet
    val q = vecs.where($"vec_id" < 3)
    val direct = rows(graft.pipeline.Quantization.ivfPqTopK(
      vecs, q, "vec_id", "embedding", k = 3, nlist = 2, nprobe = 2,
      m = 2, codewords = 3))
    val idx = graft.pipeline.AnnIndex.buildIvfPq(
      vecs, "vec_id", "embedding", nlist = 2, m = 2, codewords = 3)
    val dir = java.nio.file.Files.createTempDirectory("graft-annidx-spec").toString
    graft.pipeline.AnnIndex.save(idx, dir)
    val loaded = graft.pipeline.AnnIndex.load(spark, dir)
    assert(loaded.m == 2)
    // the serving plan reads only the stored codes — schema is the
    // persisted contract
    assert(loaded.codes.columns.toSeq == Seq("id", "lcid", "sub", "code"))
    val served = rows(graft.pipeline.AnnIndex.search(
      loaded, q, "vec_id", "embedding", k = 3, nprobe = 2))
    assert(served == direct, s"served $served\nvs direct $direct")
    // a second load serves identically (no hidden session state)
    assert(rows(graft.pipeline.AnnIndex.search(
      graft.pipeline.AnnIndex.load(spark, dir), q, "vec_id", "embedding",
      k = 3, nprobe = 2)) == direct)
    // loading a path that holds no index fails, not silently empties
    intercept[Exception] {
      graft.pipeline.AnnIndex.load(spark, dir + "-missing")
        .codes.count()
    }
  }

  test("ann index remove: deleted ids vanish from serving, survivors score unchanged") {
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val q = vecs.where($"vec_id" < 3)
    val idx = graft.pipeline.AnnIndex.buildIvfPq(
      vecs, "vec_id", "embedding", nlist = 2, m = 2, codewords = 3)
    val victims = Seq(6L, 9L).toDF("vec_id")
    val pruned = graft.pipeline.AnnIndex.remove(idx, victims)
    // the codes are physically gone, not masked
    assert(pruned.codes.where(col("id").isin(6L, 9L)).count() == 0)
    val served = graft.pipeline.AnnIndex.search(
      pruned, q, "vec_id", "embedding", k = 100, nprobe = 2)
    assert(served.where(col("neighbor_id").isin(6L, 9L)).count() == 0,
      "removed vector served")
    // surviving neighbors keep the EXACT scores of the unpruned index:
    // removal must not perturb anyone else's ADC distance
    val before = rows(graft.pipeline.AnnIndex.search(
        idx, q, "vec_id", "embedding", k = 100, nprobe = 2))
      .filterNot(t => t._2 == 6L || t._2 == 9L)
    assert(rows(served) == before, s"survivor scores moved:\n${rows(served)}\nvs $before")
  }

  test("ann index append: frozen-quantizer ingest equals encoding the union corpus") {
    // deterministic 24-vector corpus; ids < 16 are the "ingested" base
    // (covers every quantizer seed id: coarse [0, 2), codebook [2, 5)),
    // the rest arrive as a later batch
    val all = (0L until 24L).map(i => (i,
      Array((i % 7).toFloat, (i % 5).toFloat - 2f, (i % 3).toFloat, 1f)))
      .toDF("vec_id", "embedding")
    val base = all.where($"vec_id" < 16)
    val batch = all.where($"vec_id" >= 16)
    val idx = graft.pipeline.AnnIndex.buildIvfPq(
      base, "vec_id", "embedding", nlist = 2, m = 2, codewords = 3)
    val appended = graft.pipeline.AnnIndex.append(idx, batch, "vec_id", "embedding")
    // identity: append = encode(corpus ∪ batch) against the SAME frozen
    // quantizers — search results must match row for row
    val expect = graft.pipeline.Quantization.ivfPqSearchCodes(
      graft.pipeline.Quantization.ivfPqEncode(
        all, "vec_id", "embedding", 2, idx.centroids, idx.codebooks),
      all.where($"vec_id" < 3), "vec_id", "embedding",
      k = 3, nprobe = 2, m = 2, centIn = idx.centroids, resCbIn = idx.codebooks)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSet
    val got = rows(graft.pipeline.AnnIndex.search(
      appended, all.where($"vec_id" < 3), "vec_id", "embedding", k = 3, nprobe = 2))
    assert(got == rows(expect))
    // the batch really is searchable: some neighbor comes from batch ids
    assert(got.exists(_._2 >= 16L), s"no batch neighbor surfaced: $got")
  }

  test("ann index appendSave: streamed micro-batch ingest equals in-memory append") {
    // the foreachBatch hook must land the SAME code rows in the parquet
    // code table as the in-memory append of the concatenated batches —
    // micro-batch boundaries (2 source files => 2 batches) are invisible
    // in the final index
    val all = (0L until 24L).map(i => (i,
      Array((i % 7).toFloat, (i % 5).toFloat - 2f, (i % 3).toFloat, 1f)))
      .toDF("vec_id", "embedding")
    val base = all.where($"vec_id" < 16)
    val batch = all.where($"vec_id" >= 16)
    val idx = graft.pipeline.AnnIndex.buildIvfPq(
      base, "vec_id", "embedding", nlist = 2, m = 2, codewords = 3)
    val dir = java.nio.file.Files.createTempDirectory("graft-annidx-stream").toString
    graft.pipeline.AnnIndex.save(idx, dir)
    val src = java.nio.file.Files.createTempDirectory("graft-annidx-src").toString
    batch.repartition(2).write.mode("overwrite").parquet(src)
    val q = spark.readStream.schema(all.schema)
      .option("maxFilesPerTrigger", 1).parquet(src)
      .writeStream
      .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        graft.pipeline.AnnIndex.appendSave(spark, dir, b.toDF(), "vec_id", "embedding")
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val streamed = graft.pipeline.AnnIndex.load(spark, dir)
    val want = graft.pipeline.AnnIndex.append(idx, batch, "vec_id", "embedding")
    def codeRows(df: org.apache.spark.sql.DataFrame) = df
      .selectExpr("id", "lcid", "CAST(sub AS BIGINT) AS sub", "CAST(code AS BIGINT) AS code")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(streamed.codes.count() == want.codes.count())
    assert(codeRows(streamed.codes.select("id", "lcid", "sub", "code"))
      == codeRows(want.codes.select("id", "lcid", "sub", "code")))
  }

  test("gopherRules: hand-computed stats, line ratios, pass verdict both ways") {
    val base = "the cat and the dog ran to a tree in the park that is green"
    val docs = Seq(
      (1L, "aa bb #cc ..."),                     // short, symbol-heavy
      (2L, Seq.fill(4)(base).mkString(" ")),      // 60 clean words
      (3L, "- first item\n- second item\nplain tail…")) // bullets + ellipsis line
      .toDF("doc_id", "text")
    val out = graft.pipeline.TextAnalysis.gopherRules(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.toSeq.drop(1).map(_.asInstanceOf[Long])).toMap
    // doc 1: words [aa bb #cc ...]: n=4, wlen=10 -> mean 2.5e6; symbols
    // '#'x1 + '...'x1 = 2 -> 5e5; alpha 3/4 -> 75e4; stopwords 0; one
    // line ending '...' -> ellipsis 1e6; FAILS (n_words < 50)
    assert(out(1L) == Seq(4L, 2500000L, 500000L, 750000L, 0L, 1L, 0L, 1000000L, 0L),
      s"got ${out(1L)}")
    // doc 2: 60 words, 180 chars -> mean exactly 3.0e6 (inclusive
    // boundary), all alpha, stopwords plentiful -> PASSES
    assert(out(2L)(0) == 60L && out(2L)(1) == 3000000L && out(2L)(3) == 1000000L
      && out(2L)(4) >= 2L && out(2L)(8) == 1L, s"got ${out(2L)}")
    // doc 3: 3 lines, 2 bullet-starts -> 666666, 1 ellipsis-end -> 333333
    assert(out(3L)(5) == 3L && out(3L)(6) == 666666L && out(3L)(7) == 333333L,
      s"got ${out(3L)}")
    assert(out(3L)(8) == 0L, s"doc 3 must fail on word count: ${out(3L)}")
  }

  test("temperature sampling: sqrt quotas upweight the small stratum") {
    val rows = (1 to 100).map(i => (i.toLong, "A")) ++ (101 to 125).map(i => (i.toLong, "B"))
    val df = rows.toDF("id", "stratum")
    // w_A = 10e6, w_B = 5e6: quotas 10*2/3 = 6 and 10*1/3 = 3
    // (proportional sampling would give 8 / 2)
    val got = graft.pipeline.Curation.temperatureSample(df, "id", "stratum", total = 10L)
      .collect().map(r => (r.getAs[Long]("id"), r.getAs[String]("stratum")))
    assert(got.count(_._2 == "A") == 6)
    assert(got.count(_._2 == "B") == 3)
    assert(got.map(_._1).toSet.subsetOf(rows.map(_._1).toSet))
    // deterministic: same draw on a re-run
    val again = graft.pipeline.Curation.temperatureSample(df, "id", "stratum", total = 10L)
      .collect().map(r => (r.getAs[Long]("id"), r.getAs[String]("stratum")))
    assert(got.sorted.toSeq == again.sorted.toSeq)
  }

  test("multimodal: resize + frame-sample plans") {
    val assets = Multimodal.syntheticAssets(spark, 30)
    val resized = Multimodal.resizePlan(assets.where($"media_type" === "image"), 64).collect()
    assert(resized.forall { r =>
      val (w, h) = (r.getAs[Int]("target_width"), r.getAs[Int]("target_height"))
      w <= 64 && h <= 64 && w > 0 && h > 0
    })
    val frames = Multimodal.frameSamplePlan(assets, 500)
    assert(frames.count() > 0)
    assert(frames.groupBy("asset_id").count().head().getLong(1) >= 2)
  }

  test("bpeMerges: frequency order, hierarchical merges, greedy chain collapse") {
    import graft.pipeline.Tokenizer
    val corpus = Seq((1L, "a b a b c"), (2L, "a b c d")).toDF("doc_id", "text")
    val m = Tokenizer.bpeMerges(corpus, "doc_id", "text", rounds = 3)
      .orderBy("merge_round").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3)))
    assert(m(0) == ((0L, "a", "b", 3L)))        // most frequent pair first
    assert(m(1) == ((1L, "a@@b", "c", 2L)))     // merges against merged token
    assert(m(2) == ((2L, "a@@b", "a@@b@@c", 1L))) // tie broken by pair asc
    // greedy left-to-right collapse: x x x x -> x@@x x@@x in ONE round
    val chain = Seq((1L, "x x x x")).toDF("doc_id", "text")
    val cm = Tokenizer.bpeMerges(chain, "doc_id", "text", rounds = 2)
      .orderBy("merge_round").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3)))
    assert(cm(0) == ((0L, "x", "x", 3L)))
    assert(cm(1) == ((1L, "x@@x", "x@@x", 1L)))
  }

  test("dedupIncrement: drops corpus-known and within-batch dup rows") {
    val corpusHashes = Seq("seen before text", "also already ingested")
      .toDF("text").select(md5(col("text")).as("hash"))
    val batch = Seq(
      (10L, "seen before text"),        // known to the corpus -> dropped
      (11L, "brand new content one"),   // fresh -> kept
      (12L, "brand new content one"),   // within-batch dup of 11 -> dropped
      (13L, "another fresh document"))  // fresh -> kept
      .toDF("doc_id", "text")
    val kept = Dedup.dedupIncrement(corpusHashes, batch, "doc_id", "text")
      .collect().map(_.getLong(0)).toSet
    assert(kept == Set(11L, 13L))
    // empty corpus index: pure within-batch dedup
    val none = corpusHashes.where(lit(false))
    assert(Dedup.dedupIncrement(none, batch, "doc_id", "text").count() == 3L)
  }

  test("bpeTokenCounts: merged token counts reflect the learned rules") {
    import graft.pipeline.Tokenizer
    val corpus = Seq((1L, "a b a b c"), (2L, "a b c d")).toDF("doc_id", "text")
    val counts = Tokenizer.bpeTokenCounts(corpus, "doc_id", "text", rounds = 3)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    // doc 1: 5 -> a@@b a@@b c -> a@@b a@@b@@c -> a@@b@@a@@b@@c = 1 token
    // doc 2: 4 -> a@@b c d -> a@@b@@c d -> (round-2 rule not present) = 2
    assert(counts(1L) == ((5L, 1L)))
    assert(counts(2L) == ((4L, 2L)))
  }

  test("fertilityReport: hand-computed slice sums, zero-word docs excluded") {
    import graft.pipeline.Tokenizer
    val corpus = Seq(
      (1L, "en", "web", "a b a b c"),  // 5 words, 9 chars; merges to 1 token
      (2L, "en", "web", "a b c d"),    // 4 words, 7 chars; merges to 2 tokens
      (3L, "fr", "book", "x y"),       // 2 words, 3 chars; no rule fires -> 2
      (4L, "fr", "book", "..."))       // normalizes to empty -> excluded
      .toDF("doc_id", "lang", "source", "text")
    val r = Tokenizer.fertilityReport(corpus, "doc_id", "text",
        Seq("lang", "source"), rounds = 3)
      .collect().map(x => (x.getString(0), x.getString(1)) ->
        ((x.getLong(2), x.getLong(3), x.getLong(4), x.getLong(5),
          x.getLong(6), x.getLong(7)))).toMap
    // merges over the WHOLE fixture (same chain as the bpeMerges spec):
    // r0 (a,b), r1 (a@@b,c), r2 (a@@b,a@@b@@c) — doc1 collapses to one
    // token, doc2 to two, doc3's pair never wins a round
    assert(r(("en", "web")) ==
      ((2L, 9L, 3L, 16L, 3000000L / 9L, 16000000L / 3L)))
    assert(r(("fr", "book")) == ((1L, 2L, 2L, 3L, 1000000L, 1500000L)))
  }

  test("distinctNgramReport: bigram totals vs distinct, micro ratio") {
    val corpus = Seq(
      ("webA", "a b a b a b"), // bigrams a.b, b.a, a.b, b.a, a.b
      ("webA", "a b c"),       // a.b, b.c -> webA: 7 total, 3 distinct
      ("webB", "p q r"),       // p.q, q.r -> 2 total, 2 distinct
      ("webB", "z"))           // single word: no bigram rows
      .toDF("source", "text")
    val r = TextAnalysis.distinctNgramReport(corpus, "source", "text", n = 2)
      .collect().map(x => x.getString(0) ->
        ((x.getLong(1), x.getLong(2), x.getLong(3)))).toMap
    assert(r("webA") == ((3L, 7L, 3000000L / 7L)))
    assert(r("webB") == ((2L, 2L, 1000000L)))
    assert(r.size == 2)
  }

  test("lshRecallReport: verified-subset arm, recall arithmetic") {
    val corpus = Seq(
      (10L, "the quick brown fox jumps over the lazy dog tonight"),
      (11L, "the quick brown fox jumps over the lazy dog tonight"),
      (12L, "the quick brown fox jumps over the lazy cat tonight"),
      (20L, "completely different content about spark engines and big data"))
      .toDF("doc_id", "text")
    val r = Dedup.lshRecallReport(corpus, "doc_id", "text", minSim = 0.5).head()
    val (nExact, nLsh, nCommon, recall) =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))
    assert(nExact == 3L) // (10,11) exact, (10,12) and (11,12) near
    assert(nLsh <= nExact && nCommon == nLsh) // verified subset of truth
    assert(recall == BigDecimal(nCommon.toDouble / nExact)
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)
    assert(nLsh >= 1L) // the exact-dup pair always shares every band
    // empty corpus edge: recall defined as 1.0
    val empty = Dedup.lshRecallReport(corpus.where(lit(false)), "doc_id", "text").head()
    assert(empty.getLong(0) == 0L && empty.getDouble(3) == 1.0)
  }

  test("similarityReport: one propose pass, same pairs as the two single-measure ops") {
    val corpus = Seq(
      (10L, "the quick brown fox jumps over the lazy dog tonight"),
      (11L, "the quick brown fox jumps over the lazy dog tonight"),
      (12L, "the quick brown fox jumps over the lazy cat tonight"),
      (13L, "the quick brown fox"), // engulfed prefix: high containment
      (20L, "completely different content about spark engines and big data"))
      .toDF("doc_id", "text")
    val report = Dedup.similarityReport(corpus, "doc_id", "text",
        minSim = 0.5, minContain = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> ((r.getDouble(2), r.getDouble(3)))).toMap
    val jac = Dedup.ngramJaccardViaMinhash(corpus, "doc_id", "text", minSim = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val cont = Dedup.containmentViaMinhash(corpus, "doc_id", "text", minContain = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    // every qualifying pair from either measure appears with the same score
    jac.foreach { case (p, j) => assert(report(p)._1 == j) }
    cont.foreach { case (p, c) => assert(report(p)._2 == c) }
    assert(report.keySet == jac.keySet ++ cont.keySet)
    // the asymmetric prefix pair qualifies on containment, not jaccard
    val asym = report.keys.find { case (a, b) => b == 13L || a == 13L }
    asym.foreach { p => assert(report(p)._2 >= 0.9 && report(p)._1 < 0.5) }
  }

  test("collocations: hand-computed bigram-marginal PMI, minCount gates output not marginals") {
    import spark.implicits._
    // bigram tallies: "a b" x3, "b a" x1, "c d" x2 → N = 6
    val docs = Seq((1L, "a b"), (2L, "a b"), (3L, "a b a"), (4L, "c d"), (5L, "c d"))
      .toDF("doc_id", "text")
    val out = TextAnalysis.collocations(docs, "doc_id", "text", minCount = 2, topK = 10)
      .collect().map(r => (r.getString(0), r.getString(1)) -> ((r.getLong(2), r.getLong(3))))
    // pmi(a,b) = ln(3·6/(3·3)) = ln 2 → 693147; pmi(c,d) = ln(2·6/(2·2)) = ln 3
    // → 1098612; "b a" (count 1) is gated out but still feeds the marginals
    assert(out.toSeq == Seq(
      ("c", "d") -> ((2L, 1098612L)),
      ("a", "b") -> ((3L, 693147L))), s"got ${out.toSeq}")
    val top1 = TextAnalysis.collocations(docs, "doc_id", "text", minCount = 2, topK = 1)
      .collect()
    assert(top1.length == 1 && top1(0).getString(0) == "c")
  }

  test("sourceEntropy: exact micro-ln cell sums per source, uniform source reads 0") {
    import spark.implicits._
    val docs = Seq(
      ("X", "a a b"),        // a: 2/3, b: 1/3
      ("Y", "c c"), ("Y", "c c")  // c: 4/4 → ln 1 = 0
    ).toDF("source", "text")
    val out = TextAnalysis.sourceEntropy(docs, "source", "text")
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    // X: 2·floor(ln(2/3)·1e6+.5) + 1·floor(ln(1/3)·1e6+.5) = 2·(−405465) + (−1098612)
    assert(out == Map(
      "X" -> ((3L, 2L, -1909542L)),
      "Y" -> ((4L, 1L, 0L))), s"got $out")
  }

  test("unigram log-prob: common-token docs outscore rare-token docs, hand check") {
    import spark.implicits._
    val docs = Seq(
      (1L, "the the the the"),     // 4x the most common token
      (2L, "the the rare1 rare2"), // half common, half singletons
      (3L, "")).toDF("doc_id", "text")
    val out = TextAnalysis.unigramLogProb(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    // model: the=6/8, rare1=1/8, rare2=1/8
    val lp = (p: Double) => math.floor(math.log(p) * 1e6 + 0.5)
    def mean4(lps: Double*) = BigDecimal(lps.sum / (lps.size * 1e6))
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(out(1L)._1 == 4L)
    assert(out(1L)._2 == mean4(lp(6.0 / 8), lp(6.0 / 8), lp(6.0 / 8), lp(6.0 / 8)))
    assert(out(2L)._2 == mean4(lp(6.0 / 8), lp(6.0 / 8), lp(1.0 / 8), lp(1.0 / 8)))
    assert(out(1L)._2 > out(2L)._2) // fluent doc scores higher
    assert(!out.contains(3L))       // empty doc carries no rows
  }

  test("bigram log-prob: conditional probabilities hand-checked, short docs dropped") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b a b"),   // bigrams: "a b", "b a", "a b"
      (2L, "a b c"),     // bigrams: "a b", "b c"
      (3L, "solo"),      // < 2 tokens: no bigrams
      (4L, "")).toDF("doc_id", "text")
    val out = TextAnalysis.bigramLogProb(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    // model over all 5 bigrams: c(a b)=3, c(b a)=1, c(b c)=1;
    // contexts: c(a ·)=3, c(b ·)=2 — P(b|a)=3/3=1, P(a|b)=1/2, P(c|b)=1/2
    val lp = (p: Double) => math.floor(math.log(p) * 1e6 + 0.5)
    def mean4(lps: Double*) = BigDecimal(lps.sum / (lps.size * 1e6))
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(out(1L)._1 == 3L)
    assert(out(1L)._2 == mean4(lp(1.0), lp(0.5), lp(1.0)))
    assert(out(2L)._1 == 2L)
    assert(out(2L)._2 == mean4(lp(1.0), lp(0.5)))
    assert(out(1L)._2 > out(2L)._2) // the repetitive doc scores higher
    assert(!out.contains(3L) && !out.contains(4L))
  }

  test("dupParagraphReport: hand-traced cross-doc ratios; within-doc repeats don't count") {
    import spark.implicits._
    val docs = Seq(
      (1L, "shared\nunique-one"),           // 1 of 2 paras shared
      (2L, "shared\nunique-two\nlonely"),   // 1 of 3 shared
      (3L, "solo\nsolo"),                   // repeats only WITHIN itself
      (4L, "")).toDF("doc_id", "text")      // one empty paragraph
    val out = Dedup.dupParagraphReport(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getDouble(2), r.getDouble(3)))).toMap
    assert(out(1L)._1 == 2 && out(1L)._2 == 0.5)
    // chars: "shared"=6 of 6+10=16 -> 0.375
    assert(out(1L)._3 == 0.375)
    assert(out(2L)._1 == 3 && out(2L)._2 == 0.3333)
    // doc 3's repeated paragraph lives in ONE distinct doc -> not duplicated
    assert(out(3L) == ((2L, 0.0, 0.0)), s"within-doc repeat misflagged: ${out(3L)}")
    // the empty doc's single empty paragraph is unique -> 0, and its
    // zero-byte denominator coalesces instead of dividing by zero
    assert(out(4L) == ((1L, 0.0, 0.0)))
  }

  test("naive Bayes: separable fixture classifies 100%, hand-checked cell math") {
    import spark.implicits._
    val docs = Seq(
      (1L, "apple banana apple", "fruit"),
      (2L, "banana apple banana", "fruit"),
      (3L, "bolt nut bolt", "tool"),
      (4L, "nut bolt nut", "tool")).toDF("doc_id", "text", "cat")
    val (wm, lt) = TextAnalysis.naiveBayesModel(docs, "text", "cat")
    // vocab = {apple, banana, bolt, nut}, V = 4; tot_fruit = tot_tool = 6
    // lp(apple|fruit) = ln((3+1)/(6+4)); lp(apple|tool) = ln((0+1)/10)
    val cells = wm.collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(cells.size == 8) // complete 4-word x 2-label matrix
    val micro = (p: Double) => math.floor(math.log(p) * 1e6 + 0.5).toLong
    assert(cells(("apple", "fruit")) == micro(4.0 / 10))
    assert(cells(("apple", "tool")) == micro(1.0 / 10))
    val labels = lt.collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(labels("fruit")._1 == micro(0.5))      // prior ln(2/4)
    assert(labels("tool")._2 == micro(1.0 / 10))  // OOV cell ln(1/(6+4))
    val pred = TextAnalysis.naiveBayesClassify(docs, "doc_id", "text", wm, lt)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(pred == Map(1L -> "fruit", 2L -> "fruit", 3L -> "tool", 4L -> "tool"))
  }

  test("naive Bayes: saved model reloads and classifies identically; missing path fails") {
    import spark.implicits._
    val docs = Seq(
      (1L, "apple banana apple", "fruit"), (2L, "banana apple", "fruit"),
      (3L, "bolt nut bolt", "tool"), (4L, "nut bolt", "tool")).toDF("doc_id", "text", "cat")
    val (wm, lt) = TextAnalysis.naiveBayesModel(docs, "text", "cat")
    val dir = java.nio.file.Files.createTempDirectory("graft-nbmodel").toString
    TextAnalysis.saveNbModel(wm, lt, dir)
    val (wm2, lt2) = TextAnalysis.loadNbModel(spark, dir)
    val direct = TextAnalysis.naiveBayesClassify(docs, "doc_id", "text", wm, lt)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).sortBy(_._1).toSeq
    val loaded = TextAnalysis.naiveBayesClassify(docs, "doc_id", "text", wm2, lt2)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).sortBy(_._1).toSeq
    assert(direct == loaded, "reloaded model diverges from the fitted one")
    intercept[Exception] {
      TextAnalysis.loadNbModel(spark, dir + "/nope")._1.collect()
    }
  }

  test("naive Bayes: randomized corpora match a driver-side reference exactly") {
    import spark.implicits._
    val rnd = new scala.util.Random(20260814)
    val vocab = Vector("aa", "bb", "cc", "dd", "ee", "ff", "gg")
    for (round <- 1 to 5) {
      val labels = Vector.tabulate(2 + rnd.nextInt(2))(i => s"l$i")
      val docs = (1 to (8 + rnd.nextInt(12))).map { id =>
        val words = Seq.fill(rnd.nextInt(9))(vocab(rnd.nextInt(vocab.size)))
        (id.toLong, words.mkString(" "), labels(rnd.nextInt(labels.size)))
      }
      val df = docs.toDF("doc_id", "text", "cat")
      val (wm, lt) = TextAnalysis.naiveBayesModel(df, "text", "cat")
      val got = TextAnalysis.naiveBayesClassify(df, "doc_id", "text", wm, lt)
        .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2)))).toMap
      // driver-side reference: same quantized-micro-ln model, same argmax
      val micro = (p: Double) => math.floor(math.log(p) * 1e6 + 0.5).toLong
      val toks = docs.map { case (id, t, l) => (id, t.split(" ").filter(_.nonEmpty), l) }
      val cnt = toks.flatMap { case (_, ws, l) => ws.map(w => (l, w)) }
        .groupBy(identity).view.mapValues(_.size.toLong).toMap
      val tot = cnt.groupBy(_._1._1).view.mapValues(_.values.sum).toMap
      val v = cnt.keys.map(_._2).toSet.size
      val priors = docs.groupBy(_._3).view.mapValues(g => micro(g.size.toDouble / docs.size)).toMap
      val present = tot.keySet
      val want = toks.filter(_._2.nonEmpty).map { case (id, ws, _) =>
        val scores = present.toSeq.map { l =>
          val s = priors(l) + ws.map(w =>
            micro((cnt.getOrElse((l, w), 0L) + 1.0) / (tot(l) + v))).sum
          (l, s)
        }
        id -> scores.minBy { case (l, s) => (-s, l) }
      }.toMap
      assert(got == want, s"round $round diverged:\n got=$got\nwant=$want\ndocs=$docs")
    }
  }

  test("naive Bayes: unseen words fall back to the OOV cell; zero-token docs drop") {
    import spark.implicits._
    val train = Seq(
      (1L, "apple banana apple", "fruit"),
      (2L, "bolt nut bolt", "tool")).toDF("doc_id", "text", "cat")
    val (wm, lt) = TextAnalysis.naiveBayesModel(train, "text", "cat")
    val score = Seq(
      (10L, "apple zzz"), // zzz unseen by BOTH labels: evidence stays apple's
      (11L, ""),          // zero tokens -> no classification row
      (12L, "qqq www")    // all-OOV: tie on evidence, prior+label-asc break
    ).toDF("doc_id", "text")
    val out = TextAnalysis.naiveBayesClassify(score, "doc_id", "text", wm, lt)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out.keySet == Set(10L, 12L))
    assert(out(10L) == "fruit")
    // equal priors and equal OOV mass -> label-ascending tiebreak
    assert(out(12L) == "fruit")
  }

  test("weightedSample: deterministic, right size, favors heavy rows") {
    import spark.implicits._
    val rows = (1L to 2000L).map(i => (i, if (i <= 1000) 1000 else 1))
    val df = rows.toDF("doc_id", "w")
    val s1 = pipeline.Curation.weightedSample(df, "doc_id", "w", k = 200)
      .collect().map(_.getLong(0)).toSet
    val s2 = pipeline.Curation.weightedSample(df, "doc_id", "w", k = 200)
      .collect().map(_.getLong(0)).toSet
    assert(s1 == s2 && s1.size == 200)
    // heavy rows (w=1000) should dominate the sample overwhelmingly
    assert(s1.count(_ <= 1000L) > 180)
    // a different seed draws a different sample
    val s3 = pipeline.Curation.weightedSample(df, "doc_id", "w", k = 200, seed = "other")
      .collect().map(_.getLong(0)).toSet
    assert(s3 != s1)
  }

  test("containmentViaRareShingles finds the engulfed pair LSH banding misses") {
    import spark.implicits._
    val big = ((1 to 40).map(i => s"word$i") :+ "unique anchor trigram here").mkString(" ")
    val docs = Seq(
      (1L, big),                               // 40+ distinct words
      (2L, "word1 word2 word3 word4 word5"),   // engulfed: containment 1.0, Jaccard ~0.1
      (3L, "zeta eta theta iota kappa lambda")).toDF("doc_id", "text")
    // the banding path misses (1,2): Jaccard ≈ 3/41 makes a shared minhash unlikely —
    // assert on the rare-shingle path's result instead of the probabilistic miss
    val rare = pipeline.Dedup.containmentViaRareShingles(docs, "doc_id", "text",
      n = 3, maxDf = 8, minContain = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(rare.exists { case (a, b, c) => a == 1L && b == 2L && c == 1.0 },
      s"engulfed pair not found: ${rare.toSeq}")
    assert(!rare.exists { case (a, b, _) => b == 3L || a == 3L })
  }

  test("winnowingFingerprints: SWA guarantee — shared runs share a fingerprint") {
    import spark.implicits._
    val shared = "alpha beta gamma delta epsilon zeta eta theta"  // 8 words
    val docs = Seq(
      (1L, s"one two three $shared"),
      (2L, s"$shared nine ten eleven twelve"),
      (3L, "totally different words everywhere only over here now")).toDF("doc_id", "text")
    val fps = pipeline.TextAnalysis.winnowingFingerprints(docs, "doc_id", "text",
        n = 4, window = 4)
      .collect().map(r => r.getLong(0) -> r.getString(1))
    val byDoc = fps.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
      .withDefaultValue(Set.empty[String])
    // any shared run of >= n + window - 1 = 7 words guarantees a common
    // selected fingerprint; docs 1 and 2 share an 8-word run
    assert((byDoc(1L) & byDoc(2L)).nonEmpty, "no shared fingerprint on an 8-word run")
    assert((byDoc(1L) & byDoc(3L)).isEmpty)
    // deterministic: a rerun selects the identical set
    val again = pipeline.TextAnalysis.winnowingFingerprints(docs, "doc_id", "text",
        n = 4, window = 4)
      .collect().map(r => r.getLong(0) -> r.getString(1)).groupBy(_._1)
      .view.mapValues(_.map(_._2).toSet).toMap
    assert(again == byDoc)
    // a doc with fewer than n + window - 1 words yields no complete window
    val tiny = Seq((9L, "just five words in here")).toDF("doc_id", "text")
    assert(pipeline.TextAnalysis.winnowingFingerprints(tiny, "doc_id", "text").count() == 0L)
  }

  test("dimStats: exact hand-checked moments per dimension") {
    import spark.implicits._
    val vecs = Seq(
      (1L, Array(1.0f, 10.0f)),
      (2L, Array(3.0f, 10.0f)),
      (3L, Array(5.0f, 10.0f))).toDF("vec_id", "embedding")
    val out = pipeline.Clustering.dimStats(vecs, "embedding")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4), r.getDouble(5))))
      .toMap
    assert(out(0L) == ((3L, 3.0, 8.0 / 3, 1.0, 5.0)) ||
      { val (n, m, v, mn, mx) = out(0L)
        n == 3L && m == 3.0 && math.abs(v - 8.0 / 3) < 1e-6 && mn == 1.0 && mx == 5.0 })
    assert(out(1L)._2 == 10.0 && out(1L)._3 == 0.0) // collapsed dim: zero variance
  }

  test("contaminationMatrix: per-benchmark hits from one corpus scan, shared docs safe") {
    import spark.implicits._
    val corpus = Seq(
      (1L, "one two three four five six"),
      (2L, "alpha beta gamma delta epsilon zeta"),
      (3L, "clean totally different words here now")).toDF("doc_id", "text")
    // doc id 10 appears in BOTH benchmarks — same text in A/B, and id 11
    // carries DIFFERENT texts across B and C (per-benchmark id spaces):
    // neither duplicate membership nor id collision may interleave the
    // shingle windows
    val suite = Seq(
      ("A", 10L, "one two three four five six"),
      ("B", 10L, "one two three four five six"),
      ("B", 11L, "alpha beta gamma delta epsilon zeta"),
      ("C", 11L, "clean totally different words here now"))
      .toDF("bench_id", "doc_id", "text")
    val out = pipeline.Curation.contaminationMatrix(corpus, suite,
        "doc_id", "text", "bench_id", n = 5)
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    // doc1 has 2 distinct 5-grams, doc2 has 2; A hits doc 1 only; C's
    // id-11 text matches corpus doc 3 (2 grams) despite B's id-11 clash
    assert(out("A") == ((1L, 2L)))
    assert(out("B") == ((2L, 4L)))
    assert(out("C") == ((1L, 2L)))
  }

  test("contaminationMatrix: null benchmark name survives as its own null group") {
    import spark.implicits._
    val corpus = Seq(
      (1L, "one two three four five six"),
      (2L, "alpha beta gamma delta epsilon zeta")).toDF("doc_id", "text")
    // concat_ws skips nulls — an unhandled null bench_id would shift the
    // doc id into the benchmark-name slot and report a benchmark "10"
    val suite = Seq(
      (Some("A"), 10L, "one two three four five six"),
      (None, 10L, "alpha beta gamma delta epsilon zeta"))
      .toDF("bench_id", "doc_id", "text")
    val rows = pipeline.Curation.contaminationMatrix(corpus, suite,
        "doc_id", "text", "bench_id", n = 5).collect()
    val byName = rows.map(r =>
      Option(r.getString(0)) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(byName(Some("A")) == ((1L, 2L)))
    assert(byName(None) == ((1L, 2L)), s"null group lost: ${rows.mkString(",")}")
    assert(rows.length == 2)
  }

  test("thresholdSweep: one pass, monotone ladder, counts match single-threshold runs") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b c d e f g h"),
      (2L, "a b c d e f g x"),     // high overlap with 1
      (3L, "a b c q r s t u"),     // moderate overlap with 1/2
      (4L, "z y x w v u t s")).toDF("doc_id", "text")
    val sweep = pipeline.Dedup.thresholdSweep(docs, "doc_id", "text",
        n = 3, k = 4, thresholds = Seq(0.3, 0.5, 0.9))
      .collect().map(r => r.getDouble(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    // EVERY requested rung appears, including ones no pair reaches
    assert(sweep.keySet == Set(0.3, 0.5, 0.9))
    // monotone: higher threshold, fewer (or equal) pairs/docs
    val sorted = sweep.keys.toSeq.sorted
    sorted.sliding(2).foreach { case Seq(lo, hi) =>
      assert(sweep(lo)._1 >= sweep(hi)._1 && sweep(lo)._2 >= sweep(hi)._2)
    }
    // each ladder rung equals the single-threshold pipeline's pair count
    sorted.foreach { t =>
      val single = pipeline.Dedup.ngramJaccardViaMinhash(docs, "doc_id", "text",
        n = 3, k = 4, minSim = t).count()
      assert(sweep(t)._1 == single, s"threshold $t: sweep=${sweep(t)} single=$single")
    }
    // per-rung banding with every rung at the shared k is IDENTICAL to the
    // single-pass sweep (same hash family, same bands → same proposals)
    val reband = pipeline.Dedup.thresholdSweep(docs, "doc_id", "text",
        n = 3, k = 4, thresholds = Seq(0.3, 0.5, 0.9),
        rungBands = Some(Seq(4, 4, 4)))
      .collect().map(r => r.getDouble(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(reband == sweep, s"reband $reband vs single-pass $sweep")
    // heterogeneous band counts: each rung equals its own dedicated run
    val ks = Seq(2, 4, 8)
    val hetero = pipeline.Dedup.thresholdSweep(docs, "doc_id", "text",
        n = 3, k = 4, thresholds = Seq(0.3, 0.5, 0.9), rungBands = Some(ks))
      .collect().map(r => r.getDouble(0) -> r.getLong(1)).toMap
    sorted.zip(ks).foreach { case (t, ki) =>
      val dedicated = pipeline.Dedup.ngramJaccardViaMinhash(docs, "doc_id", "text",
        n = 3, k = ki, minSim = t).count()
      assert(hetero(t) == dedicated, s"rung $t k=$ki: ${hetero(t)} vs $dedicated")
    }
    // misaligned rungBands fails fast
    intercept[IllegalArgumentException] {
      pipeline.Dedup.thresholdSweep(docs, "doc_id", "text",
        thresholds = Seq(0.3, 0.5), rungBands = Some(Seq(4)))
    }
  }

  test("chunkDocuments: overlap windows, short final chunk, token order kept") {
    import spark.implicits._
    // 10 tokens, chunkSize=4, stride=3 -> chunks start at 0,3,6,9:
    // [t0..t3] [t3..t6] [t6..t9] [t9]
    val docs = Seq((1L, "t0 t1 t2 t3 t4 t5 t6 t7 t8 t9")).toDF("doc_id", "text")
    val out = pipeline.Curation.chunkDocuments(docs, "doc_id", "text",
        chunkSize = 4, stride = 3)
      .collect().map(r => r.getLong(1) -> ((r.getLong(2), r.getString(3)))).toMap
    assert(out == Map(
      0L -> ((4L, "t0 t1 t2 t3")), 1L -> ((4L, "t3 t4 t5 t6")),
      2L -> ((4L, "t6 t7 t8 t9")), 3L -> ((1L, "t9"))))
    // non-overlapping stride: exact partition
    val flat = pipeline.Curation.chunkDocuments(docs, "doc_id", "text",
        chunkSize = 5, stride = 5)
      .collect().map(r => r.getLong(1) -> r.getString(3)).toMap
    assert(flat == Map(0L -> "t0 t1 t2 t3 t4", 1L -> "t5 t6 t7 t8 t9"))
  }

  test("hotSpanCoverage: duplicated docs fully covered, unique doc zero") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b c d e f"),             // duplicated verbatim in doc 2
      (2L, "a b c d e f"),
      (3L, "q w e r t y u"),           // unique -> no hot grams
      (4L, "z a b c d e f z2 unique tail here")) // contains the hot span
      .toDF("doc_id", "text")
    val out = pipeline.Dedup.hotSpanCoverage(docs, "doc_id", "text", n = 5, minDf = 2)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(out(1L) == ((6L, 6L, 1.0)))   // both 5-gram windows hot -> all 6 covered
    assert(out(2L) == ((6L, 6L, 1.0)))
    assert(out(3L) == ((7L, 0L, 0.0)))
    // doc 4: hot grams "a b c d e" (pos 1) and "b c d e f" (pos 2) cover
    // positions 1..6 of its 11 tokens
    assert(out(4L) == ((11L, 6L, 0.5455)))
  }

  test("covariance: matches hand-computed moments, upper triangle only") {
    import spark.implicits._
    val vecs = Seq(
      (1L, Array(1.0f, 2.0f)), (2L, Array(3.0f, 6.0f)), (3L, Array(5.0f, 4.0f)))
      .toDF("vec_id", "embedding")
    val out = pipeline.Clustering.covariance(vecs, "embedding")
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> ((r.getLong(2), r.getDouble(3)))).toMap
    // means: x=3, y=4; E[x^2]=35/3, E[xy]=40/3, E[y^2]=56/3
    assert(out.keySet == Set((0L, 0L), (0L, 1L), (1L, 1L)))
    assert(out((0L, 0L)) == ((3L, math.rint((35.0/3 - 9) * 1e6) / 1e6)))
    assert(out((0L, 1L))._2 == math.rint((40.0/3 - 12) * 1e6) / 1e6)
    assert(out((1L, 1L))._2 == math.rint((56.0/3 - 16) * 1e6) / 1e6)
  }

  test("semanticDecontaminate: near-eval vector scrubbed, distant survives") {
    import spark.implicits._
    val corpus = Seq(
      (1L, Array(1.0f, 0.0f, 0.0f, 0.0f)),   // identical to eval -> scrubbed
      (2L, Array(-1.0f, -1.0f, -1.0f, -1.0f))) // far from eval
      .toDF("vec_id", "embedding")
    val eval = Seq((100L, Array(1.0f, 0.0f, 0.0f, 0.0f))).toDF("vec_id", "embedding")
    val out = pipeline.Curation.semanticDecontaminate(corpus, eval,
        "vec_id", "embedding", planes = 2, minCos = 0.9)
      .collect().map(_.getLong(0)).toSet
    assert(out == Set(2L))
  }

  test("norms: hand-checked l1/l2/linf, signs ignored") {
    import spark.implicits._
    val vecs = Seq((1L, Array(3.0f, -4.0f)), (2L, Array(0.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    val out = pipeline.Clustering.norms(vecs, "vec_id", "embedding")
      .collect().map(r => r.getLong(0) -> ((r.getDouble(1), r.getDouble(2), r.getDouble(3)))).toMap
    assert(out(1L) == ((7.0, 5.0, 4.0)))
    assert(out(2L) == ((0.0, 0.0, 0.0)))
  }

  test("zipfFit: exact power law recovers its slope") {
    import spark.implicits._
    // term freqs 8/4/2/1 at ranks 1/2/3/4: y = ln f, x = ln r; the fit is
    // the least-squares line through those four points
    val doc = (("a " * 8) + ("b " * 4) + ("c " * 2) + "d").trim
    val docs = Seq((1L, doc)).toDF("doc_id", "text")
    val row = pipeline.TextAnalysis.zipfFit(docs, "doc_id", "text", topV = 10)
      .collect().head
    assert(row.getLong(0) == 4L)
    val x = Seq(1.0, 2.0, 3.0, 4.0).map(r => math.rint(math.log(r) * 1e8) / 1e8)
    val y = Seq(8.0, 4.0, 2.0, 1.0).map(f => math.rint(math.log(f) * 1e8) / 1e8)
    val n = 4.0
    val (sx, sy) = (x.sum, y.sum)
    val sxy = x.zip(y).map { case (a, b) => a * b }.sum
    val sxx = x.map(a => a * a).sum
    val slope = (sxy - sx * sy / n) / (sxx - sx * sx / n)
    assert(math.abs(row.getDouble(1) - slope) < 1e-5, s"slope ${row.getDouble(1)} vs $slope")
    assert(row.getDouble(1) < -1.0 && row.getDouble(2) > 0.0) // steeper than -1 here
    // degenerate: a single-term vocab has zero x-variance -> NULL, not NaN
    val one = pipeline.TextAnalysis.zipfFit(
      Seq((1L, "solo solo solo")).toDF("doc_id", "text"), "doc_id", "text").collect().head
    assert(one.getLong(0) == 1L && one.isNullAt(1) && one.isNullAt(2))
  }

  test("lengthBandFilter: k-th smallest cutoffs from the histogram") {
    import spark.implicits._
    // lengths 1..10; p=[0.2, 0.8] -> k = 2 and 8 -> keep lengths 2..8
    val docs = (1 to 10).map(i => (i.toLong, ("w " * i).trim)).toDF("doc_id", "text")
    val out = pipeline.Curation.lengthBandFilter(docs, "doc_id", "text", 0.2, 0.8)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out.keySet == (2L to 8L).toSet)
    assert(out(2L) == 2L && out(8L) == 8L)
  }

  test("mixReport: per-stratum counts and shares against corpus totals") {
    import spark.implicits._
    val docs = Seq(
      (1L, "en", "web", "one two three"),
      (2L, "en", "web", "four five"),
      (3L, "de", "book", "sechs sieben acht neun zehn")).toDF("doc_id", "lang", "source", "text")
    val out = pipeline.Curation.mixReport(docs, "text", Seq("lang", "source"))
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3), r.getDouble(4), r.getDouble(5)))).toMap
    assert(out(("en", "web")) == ((2L, 5L, 0.666667, 0.5)))
    assert(out(("de", "book")) == ((1L, 5L, 0.333333, 0.5)))
  }

  test("pcaLoadings: rank-1 data recovers its principal axis") {
    import spark.implicits._
    // points on the line y = 2x: principal axis (1,2)/sqrt(5)
    val vecs = Seq((1L, Array(1.0f, 2.0f)), (2L, Array(2.0f, 4.0f)),
      (3L, Array(3.0f, 6.0f))).toDF("vec_id", "embedding")
    val out = pipeline.Clustering.pcaLoadings(vecs, "embedding", iters = 3)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(out.keySet == Set(0L, 1L))
    assert(math.abs(out(0L) - 1.0 / math.sqrt(5)) < 1e-3, s"dim0 ${out(0L)}")
    assert(math.abs(out(1L) - 2.0 / math.sqrt(5)) < 1e-3, s"dim1 ${out(1L)}")
    // degenerate: identical vectors -> zero covariance -> NULL loadings,
    // never a silent NaN cascade
    val const = Seq((1L, Array(1.0f, 1.0f)), (2L, Array(1.0f, 1.0f)))
      .toDF("vec_id", "embedding")
    val degen = pipeline.Clustering.pcaLoadings(const, "embedding", iters = 2).collect()
    assert(degen.length == 2 && degen.forall(_.isNullAt(1)))
  }

  test("pcaProject: 2D data with independent axes projects onto them") {
    import spark.implicits._
    // spread along x (var 8/3), small spread along y (var 2/3), no
    // cross-covariance: component 0 ~ x-axis, component 1 ~ y-axis;
    // coordinates are the centered values along each axis
    val vecs = Seq(
      (1L, Array(-2.0f, 0.0f)), (2L, Array(0.0f, -1.0f)),
      (3L, Array(0.0f, 1.0f)), (4L, Array(2.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    val out = pipeline.Clustering.pcaProject(vecs, "vec_id", "embedding", p = 2, iters = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(out.size == 8)
    // component 0 = ±x (sign fixed by the all-ones start: positive here)
    assert(math.abs(math.abs(out((1L, 0L))) - 2.0) < 1e-3, s"c0(1) ${out((1L, 0L))}")
    assert(math.abs(out((2L, 0L))) < 1e-3)
    // component 1 = ±y after deflation
    assert(math.abs(math.abs(out((2L, 1L))) - 1.0) < 1e-3, s"c1(2) ${out((2L, 1L))}")
    assert(math.abs(out((1L, 1L))) < 1e-3)
    // orthogonality of the two published axes survives rounding: the dot
    // of coordinate vectors across components is ~0 for this data
    val c0 = Seq(1L, 2L, 3L, 4L).map(i => out((i, 0L)))
    val c1 = Seq(1L, 2L, 3L, 4L).map(i => out((i, 1L)))
    assert(math.abs(c0.zip(c1).map { case (a, b) => a * b }.sum) < 1e-2)
  }

  test("pcaWhiten: per-component unit variance on anisotropic axes") {
    import spark.implicits._
    // same fixture as the pcaProject spec: x-variance 2 (population, /4),
    // y-variance 0.5 — whitening must equalize them to 1
    val vecs = Seq(
      (1L, Array(-2.0f, 0.0f)), (2L, Array(0.0f, -1.0f)),
      (3L, Array(0.0f, 1.0f)), (4L, Array(2.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    val out = pipeline.Clustering.pcaWhiten(vecs, "vec_id", "embedding", p = 2, iters = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(out.size == 8)
    def popVar(xs: Seq[Double]) = xs.map(x => x * x).sum / xs.size
    val c0 = Seq(1L, 2L, 3L, 4L).map(i => out((i, 0L)))
    val c1 = Seq(1L, 2L, 3L, 4L).map(i => out((i, 1L)))
    // covariance here is the SAMPLE covariance (n-1), so whitened
    // population variance is (n-1)/n = 3/4 on both axes — the point is
    // they are EQUAL after whitening though raw variances differ 4×
    assert(math.abs(popVar(c0) - popVar(c1)) < 1e-3,
      s"whitened variances differ: ${popVar(c0)} vs ${popVar(c1)}")
    assert(popVar(c0) > 0.5 && popVar(c0) < 1.1)
    // the dominant-axis point lands at ±2/sqrt(lambda0), not at ±2
    assert(math.abs(out((1L, 0L))) < 2.0)
  }

  test("oovReport: rate against the corpus's own top-V vocab, zero-token docs pass") {
    import spark.implicits._
    val docs = Seq(
      (1L, "the the the cat"),   // 'the' tf=3 + below, 'cat' tf=1
      (2L, "the dog"),
      (3L, "!!!")).toDF("doc_id", "text") // normalizes to zero tokens
    // vocabSize=1 keeps only 'the' (tf 4); cat/dog are OOV
    val out = pipeline.Curation.oovReport(docs, "doc_id", "text", vocabSize = 1)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3))))
      .toMap
    assert(out(1L) == ((4L, 1L, 0.25)))
    assert(out(2L) == ((2L, 1L, 0.5)))
    assert(out(3L) == ((0L, 0L, 0.0)))
  }

  test("randomized: minhash-propose + array-verify pairs equal the independent all-pairs form") {
    import spark.implicits._
    // two INDEPENDENT implementations must agree: ngramJaccardPairs
    // enumerates all sharing pairs with the exploded join + pair groupBy,
    // ngramJaccardViaMinhash proposes via banding and verifies with the
    // collected-array intersect. At minSim = 0.26, k = 4 single-hash
    // bands: any pair at J >= 0.26 shares a shingle; if its four minima
    // all differ the pair may legitimately be missed by the propose
    // stage, so assert (a) via-minhash ⊆ all-pairs with EQUAL scores,
    // (b) every all-pairs result whose docs share a band is found.
    val rnd = new scala.util.Random(9090L)
    val vocab = Vector("alpha", "beta", "gamma", "delta", "epsilon", "zeta")
    // 20 random base docs + a mutated near-copy of each (one token
    // swapped) — guaranteed high-jaccard pairs plus random-overlap noise
    val bases = (1L to 20L).map(i =>
      i -> Seq.fill(8 + rnd.nextInt(5))(vocab(rnd.nextInt(vocab.size))))
    val docs = (bases.map { case (i, ws) => (i, ws.mkString(" ")) } ++
      bases.map { case (i, ws) =>
        val mut = ws.updated(rnd.nextInt(ws.size), vocab(rnd.nextInt(vocab.size)))
        (i + 100L, mut.mkString(" "))
      }).toDF("doc_id", "text")
    val brute = pipeline.Dedup.ngramJaccardPairs(docs, "doc_id", "text",
        n = 3, minSim = 0.26)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val lsh = pipeline.Dedup.ngramJaccardViaMinhash(docs, "doc_id", "text",
        n = 3, k = 4, minSim = 0.26)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(lsh.nonEmpty, "fixture produced no near-dup pairs at all")
    lsh.foreach { case (pair, j) =>
      assert(brute.get(pair).contains(j), s"pair $pair: lsh $j vs brute ${brute.get(pair)}")
    }
    // recall check against the actual banding: recompute the 4 minima per
    // doc on the driver and require every brute pair sharing a band to be
    // proposed+verified
    val sigRows = pipeline.Dedup.minhashSignatures(docs, "doc_id", "text", k = 4)
      .collect().map(r => r.getLong(0) -> (1 to 4).map(r.getString)).toMap
    brute.keys.foreach { case (a, b) =>
      val sharesBand = sigRows(a).zip(sigRows(b)).exists { case (x, y) => x == y }
      if (sharesBand)
        assert(lsh.contains((a, b)), s"banded pair ($a,$b) missing from via-minhash")
    }
  }

  test("paragraph dedup: corpus-wide keep-first, ordered reassembly, empty docs vanish") {
    import spark.implicits._
    val docs = Seq(
      (1L, "license header\nreal content one\nfooter"),
      (2L, "license header\nreal content two\nfooter"), // boilerplate repeats
      (3L, "license header\nfooter"))                   // nothing new at all
      .toDF("doc_id", "text")
    val out = pipeline.Dedup.paragraphDedup(docs, "doc_id", "text").collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
    // doc 1 owns the first occurrence of every paragraph it has
    assert(out(1L) == (("license header\nreal content one\nfooter", 3L, 0L)))
    // doc 2 keeps only its unique middle paragraph
    assert(out(2L) == (("real content two", 1L, 2L)))
    // doc 3 contributed nothing new -> absent entirely
    assert(!out.contains(3L) && out.size == 2)
  }

  test("randomized: paragraphDedup equals a driver-side keep-first reference") {
    import spark.implicits._
    // heavy-dup corpus from a tiny paragraph alphabet (incl. the empty
    // line — the hottest real-world key); the reference walks docs in id
    // order, positions in order, with one global seen-set — exactly the
    // min(doc, pos) winner the operator aggregates
    val rnd = new scala.util.Random(7)
    val alphabet = Vector("alpha", "beta", "gamma", "delta", "", "header x")
    val corpus = (1L to 60L).map { i =>
      val n = 1 + rnd.nextInt(5)
      (i, Seq.fill(n)(alphabet(rnd.nextInt(alphabet.size))).mkString("\n"))
    }
    val seen = scala.collection.mutable.Set.empty[String]
    val expect = corpus.flatMap { case (id, text) =>
      val paras = text.split(java.util.regex.Pattern.quote("\n"), -1).toSeq
      val kept = paras.filter(p => seen.add(p))
      if (kept.isEmpty) None
      else Some(id -> ((kept.mkString("\n"), kept.size.toLong,
        (paras.size - kept.size).toLong)))
    }.toMap
    val got = pipeline.Dedup.paragraphDedup(
        corpus.toDF("doc_id", "text").repartition(5), "doc_id", "text")
      .collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got == expect, s"got $got\nexpect $expect")
  }

  test("line filter: min-words and blacklist drop, order kept, stats count") {
    import spark.implicits._
    val docs = Seq(
      (1L, "alpha beta gamma delta\nno\nEnable JavaScript to continue\nepsilon zeta eta theta"),
      (2L, "x\ny"))
      .toDF("doc_id", "text")
    val out = pipeline.Curation.lineFilter(docs, "doc_id", "text",
        minWords = 3, blacklist = Seq("javascript")).collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
    // line 2 (< 3 words) and line 3 (blacklisted, case-insensitive) drop;
    // survivors keep original order
    assert(out(1L) == (("alpha beta gamma delta\nepsilon zeta eta theta", 2L, 2L)))
    assert(!out.contains(2L) && out.size == 1)
  }

  test("regex-special separators split literally in line filter and paragraph dedup") {
    import spark.implicits._
    // "|" and "." are regex metacharacters: an unquoted split("|") splits
    // every character, silently corrupting the line structure
    val docs = Seq(
      (1L, "alpha beta gamma|no|delta epsilon zeta"),
      (2L, "alpha beta gamma|eta theta iota")).toDF("doc_id", "text")
    val lf = pipeline.Curation.lineFilter(docs, "doc_id", "text",
        minWords = 3, sep = "|").collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2)))).toMap
    assert(lf(1L) == (("alpha beta gamma|delta epsilon zeta", 2L)))
    assert(lf(2L) == (("alpha beta gamma|eta theta iota", 2L)))
    val pd = pipeline.Dedup.paragraphDedup(docs, "doc_id", "text", sep = "|")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    // doc 1 wins the shared first paragraph; doc 2 keeps only its unique one
    assert(pd(1L) == "alpha beta gamma|no|delta epsilon zeta")
    assert(pd(2L) == "eta theta iota")
  }

  test("verify-stage shingle arrays are capped: a mega-doc cannot become a fat row") {
    import spark.implicits._
    // one adversarially long un-chunked doc (far more shingles than the cap)
    // next to normal docs; the capped sets must stay bounded and the
    // verify join must still return a sane row for the over-cap pair
    val mega = (0 until 3000).map(i => s"tok$i").mkString(" ")
    val docs = Seq(
      (1L, mega), (2L, mega),                      // identical mega pair
      (3L, "alpha beta gamma delta epsilon zeta")) // normal doc
      .toDF("doc_id", "text")
    val sh = pipeline.TextAnalysis.shingleRows(docs, "doc_id", "text", 3)
      .withColumnRenamed("doc_id", "doc").dropDuplicates("doc", "shingle")
    val cap = 64
    // sets are hashed-shingle longs (xxhash64), sorted ascending
    val sets = pipeline.Dedup.shingleSets(sh, cap).collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(sets(1L).size == cap && sets(2L).size == cap,
      s"mega-doc arrays not capped: ${sets(1L).size}")
    assert(sets(3L).size == 4) // under the cap -> exact, untouched
    // both sides cap to the SAME bottom-k-by-hash subset, so the identical
    // mega pair still scores jaccard 1.0 through the capped estimate
    assert(sets(1L).sorted == sets(2L).sorted)
    // default cap leaves realistic docs exact: the full pipeline on these
    // docs (default cap 8192 > 2998 shingles) still finds the exact dup
    val pairs = pipeline.Dedup.ngramJaccardViaMinhash(
      docs, "doc_id", "text", n = 3, minSim = 0.9).collect()
    assert(pairs.exists(r => r.getLong(0) == 1L && r.getLong(1) == 2L
      && r.getDouble(2) == 1.0))
  }
}

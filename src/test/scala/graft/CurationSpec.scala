package graft

import org.apache.spark.sql.functions._
import graft.pipeline.{ConnectedComponents, Curation, Dedup}

class CurationSpec extends SparkSuite {

  test("psiReport: hand-bucketed counts, smoothed contributions, identical slices score 0") {
    import spark.implicits._
    // slice a values: 5, 15, 15 → buckets 0, 1, 1; slice b: 5, 25 → 0, 2
    val rows = Seq((5L, "a"), (15L, "a"), (15L, "a"), (5L, "b"), (25L, "b"),
      (7L, "zz")) // foreign slice ignored
      .toDF("v", "s")
    val out = Curation.psiReport(rows, "v", "s", "a", "b",
        bucketWidth = 10, maxBucket = 2).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    def contrib(na: Long, nb: Long, ta: Long, tb: Long, k: Long): Long = {
      val pa = (na + 1).toDouble / (ta + k); val pb = (nb + 1).toDouble / (tb + k)
      math.floor((pa - pb) * math.log(pa / pb) * 1000000.0 + 0.5).toLong
    }
    assert(out == Map(
      0L -> ((1L, 1L, contrib(1, 1, 3, 2, 3))),
      1L -> ((2L, 0L, contrib(2, 0, 3, 2, 3))),
      2L -> ((0L, 1L, contrib(0, 1, 3, 2, 3)))), s"got $out")
    // every contribution is non-negative; identical slices contribute 0
    assert(out.values.forall(_._3 >= 0L), s"got $out")
    val same = Curation.psiReport(
      rows.where($"s" === "a").unionByName(rows.where($"s" === "a")
        .select($"v", lit("b").as("s"))),
      "v", "s", "a", "b", bucketWidth = 10, maxBucket = 2).collect()
    assert(same.forall(_.getLong(3) == 0L), s"got ${same.toSeq}")

    // negatives CLAMP into bucket 0 (no truncate-vs-floor divergence, no
    // escape from the fixed domain), and buckets empty in BOTH slices are
    // still emitted — their smoothed term is nonzero when totals differ
    val neg = Seq((-7L, "a"), (-17L, "a"), (3L, "b"), (4L, "b"), (5L, "b"))
      .toDF("v", "s")
    val negOut = Curation.psiReport(neg, "v", "s", "a", "b",
        bucketWidth = 10, maxBucket = 2).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(negOut == Map(
      0L -> ((2L, 3L, contrib(2, 3, 2, 3, 3))),
      1L -> ((0L, 0L, contrib(0, 0, 2, 3, 3))),
      2L -> ((0L, 0L, contrib(0, 0, 2, 3, 3)))), s"got $negOut")
    assert(negOut(1L)._3 != 0L, "both-empty bucket with unequal totals must contribute")
  }

  test("piiReport: per-class counts, multi-match docs, clean docs score zero") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a", "write to alice@corp.example.com and bob@x.io today"), // 2 emails
      (2L, "a", "server at 192.168.0.1 fell over"),                    // 1 ip
      (3L, "b", "call +1 555 123 4567 or acct 123456789"),             // 1 phone, 1 longnum
      (4L, "b", "no pii here, just 12345 and a dot."),                 // clean
      (5L, "b", "ref 9876543210123"))                                  // 1 longnum
      .toDF("doc_id", "source", "text")
    val out = Curation.piiReport(docs, "doc_id", "text", "source").collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6)))).toMap
    // (n_docs, docs_with_pii, n_emails, n_ipv4, n_phones, n_longnums)
    assert(out("a") == ((2L, 2L, 2L, 1L, 0L, 0L)), s"got ${out("a")}")
    assert(out("b") == ((3L, 2L, 0L, 0L, 1L, 2L)), s"got ${out("b")}")
    // redaction closes the email/longnum classes the report counts
    val after = Curation.piiReport(
      docs.select($"doc_id", $"source", Curation.redact($"text").as("text")),
      "doc_id", "text", "source").agg(
        sum("n_emails"), sum("n_longnums")).collect()(0)
    assert(after.getLong(0) == 0L && after.getLong(1) == 0L, s"got $after")
  }

  test("epochShuffle: reproducible permutation per epoch, epochs uncorrelated") {
    import spark.implicits._
    val docs = (1L to 400L).toDF("doc_id")
    val e1 = pipeline.Curation.epochShuffle(docs, "doc_id", epoch = 1, nShards = 8)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    // every doc assigned exactly once; within each shard ord is 1..n
    assert(e1.size == 400)
    e1.values.groupBy(_._1).foreach { case (_, members) =>
      val ords = members.map(_._2).toSeq.sorted
      assert(ords == (1L to ords.size).toSeq, s"ord not a dense permutation: $ords")
    }
    // byte-deterministic re-run
    val e1b = pipeline.Curation.epochShuffle(docs, "doc_id", epoch = 1, nShards = 8)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(e1 == e1b)
    // a different epoch moves a substantial fraction of documents
    val e2 = pipeline.Curation.epochShuffle(docs, "doc_id", epoch = 2, nShards = 8)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val moved = e1.count { case (id, a) => e2(id) != a }
    assert(moved > 300, s"epochs too correlated: only $moved/400 moved")
  }
  import spark.implicits._

  lazy val docs = Seq(
    (1L, "alpha beta gamma delta"),
    (2L, "alpha beta gamma delta"),   // dup of 1
    (3L, "alpha beta gamma delta"),   // dup of 1
    (4L, "epsilon zeta eta theta"),
    (5L, "epsilon zeta eta theta"),   // dup of 4
    (6L, "iota kappa lambda mu")).toDF("doc_id", "text")

  test("dedupExactKeepFirst keeps the minimum-id survivor per group") {
    val kept = Curation.dedupExactKeepFirst(docs, "doc_id", "text")
      .collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L, 4L, 6L))
  }

  test("exactDupStarPairs emits (min, member) per group and matches the clique clusters") {
    val star = Curation.exactDupStarPairs(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(star == Set((1L, 2L), (1L, 3L), (4L, 5L)))
    // cc over the star edges labels identically to cc over the full clique
    val viaStar = ConnectedComponents.labels(Curation.exactDupStarPairs(docs, "doc_id", "text"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val viaClique = ConnectedComponents.labels(Curation.exactDupCliquePairs(docs, "doc_id", "text"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(viaStar == viaClique)
    assert(viaStar == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L, 5L -> 4L))
  }

  test("exactDupCliquePairs expands cliques but drops groups above the cap") {
    val clique = Curation.exactDupCliquePairs(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(clique == Set((1L, 2L), (1L, 3L), (2L, 3L), (4L, 5L)))
    // cap = 2 drops the size-3 group entirely; the size-2 group survives
    val capped = Curation.exactDupCliquePairs(docs, "doc_id", "text", maxGroupSize = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(capped == Set((4L, 5L)))
  }

  test("ConnectedComponents.labels: each dup group labeled by its min id") {
    val pairs = Seq((1L, 2L), (2L, 3L), (4L, 5L)).toDF("a", "b")
    val clusters = ConnectedComponents.labels(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(clusters == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L, 5L -> 4L))
  }

  test("dedupNearKeepFirst keeps one survivor per near-dup cluster, singletons pass") {
    val corpus = Seq(
      (10L, "the quick brown fox jumps over the lazy dog tonight"),
      (11L, "the quick brown fox jumps over the lazy dog tonight"), // exact dup of 10
      (12L, "the quick brown fox jumps over the lazy cat tonight"), // near dup of 10
      (20L, "completely different content about spark engines and big data"),
      (30L, "einzelganger text ohne jede ahnlichkeit zu den anderen hier"))
      .toDF("doc_id", "text")
    val kept = Curation.dedupNearKeepFirst(corpus, "doc_id", "text", minSim = 0.5)
      .collect().map(_.getLong(0)).toSet
    // 10-11-12 collapse to min id 10; 20 and 30 are untouched singletons
    assert(kept == Set(10L, 20L, 30L))
  }

  test("sampleByHash is deterministic and roughly proportional") {
    val big = spark.range(2000).select(col("id").as("doc_id"))
    val s1 = Curation.sampleByHash(big, "doc_id", keepOf256 = 64).collect().map(_.getLong(0)).toSet
    val s2 = Curation.sampleByHash(big, "doc_id", keepOf256 = 64).collect().map(_.getLong(0)).toSet
    assert(s1 == s2)
    assert(math.abs(s1.size - 500) < 120) // ~25% of 2000
    // different seed -> different (deterministic) subset
    val s3 = Curation.sampleByHash(big, "doc_id", 64, seed = "other").collect().map(_.getLong(0)).toSet
    assert(s3 != s1)
  }

  test("splitLabel partitions every row into exactly one deterministic split") {
    val big = spark.range(2000).select(col("id").as("doc_id"))
    val labeled = Curation.splitLabel(big, "doc_id")
    val counts = labeled.groupBy("split").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts.values.sum == 2000)
    assert(counts.keySet == Set("train", "val", "test"))
    assert(counts("train") > counts("val") && counts("train") > counts("test"))
    val again = Curation.splitLabel(big, "doc_id")
    assert(labeled.collect().toSet == again.collect().toSet)
  }

  test("leakageSafeSplit: clusters land whole, singletons match splitLabel exactly") {
    val big = spark.range(2000).select(col("id").as("doc_id"))
    // a transitive chain 10~11~12 (no 10~12 pair) plus a disjoint pair —
    // cc must pull the whole chain into one split, not just direct pairs
    val pairs = Seq((10L, 11L), (11L, 12L), (500L, 1500L)).toDF("a", "b")
    val out = Curation.leakageSafeSplit(big, "doc_id", pairs)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out.size == 2000)
    assert(Set(out(10L), out(11L), out(12L)).size == 1, "chain straddles splits")
    assert(out(500L) == out(1500L), "pair straddles splits")
    // every unpaired doc gets EXACTLY the splitLabel assignment
    val plain = Curation.splitLabel(big, "doc_id")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val clustered = Set(10L, 11L, 12L, 500L, 1500L)
    big.collect().map(_.getLong(0)).filterNot(clustered).foreach { id =>
      assert(out(id) == plain(id), s"singleton $id diverged from splitLabel")
    }
    // and the cluster's shared split is the ROOT member's splitLabel value
    assert(out(10L) == plain(10L))
    assert(out(500L) == plain(500L))
  }

  test("dsirSelect ranks target-like raw docs first; zero-token raw docs carry weight 0") {
    val corpus = Seq(
      (1L, "alpha beta gamma alpha beta", true),   // target docs: alpha/beta/gamma world
      (2L, "beta gamma alpha beta gamma", true),
      (3L, "alpha beta gamma", false),              // raw, pure target vocabulary
      (4L, "alpha beta zzz qqq", false),            // raw, mixed
      (5L, "zzz qqq www yyy zzz qqq", false),       // raw, disjoint vocabulary
      (6L, "", false)                               // raw, no tokens
    ).toDF("doc_id", "text", "tgt")
    val out = Curation.dsirSelect(corpus, "doc_id", "text", col("tgt"), k = 10)
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    // only raw docs are ranked, all four present (k > raw count)
    assert(out.map(_._1).toSet == Set(3L, 4L, 5L, 6L))
    val w = out.toMap
    // resemblance order: pure-target > mixed > disjoint vocabulary
    assert(w(3L) > w(4L), s"pure-target doc not above mixed: $w")
    assert(w(4L) > w(5L), s"mixed doc not above disjoint: $w")
    assert(w(6L) == 0L, s"zero-token doc weight not 0: $w")
    // returned highest-first with doc-id tiebreak, and k caps the output
    assert(out.map(_._2).toSeq == out.map(_._2).toSeq.sorted(Ordering[Long].reverse))
    val top2 = Curation.dsirSelect(corpus, "doc_id", "text", col("tgt"), k = 2)
      .collect().map(_.getLong(0)).toSeq
    assert(top2 == out.map(_._1).take(2).toSeq)
  }

  test("tokenBudgetSelect: exact greedy cut, ties by id, boundary bucket ordered by exact score") {
    val rows = Seq(
      // group X: greedy order 1 (0.9), 2 (0.8, id beats 3), 3 (0.8)
      ("X", 1L, 10L, 0.9), ("X", 2L, 10L, 0.8), ("X", 3L, 5L, 0.8),
      // group Y: two docs in the SAME 1e-4 bucket with different exact
      // scores — the boundary window must order 5 (0.80004) before 6 (0.8)
      ("Y", 5L, 10L, 0.80004), ("Y", 6L, 10L, 0.8)
    ).toDF("grp", "doc_id", "tk", "sc")
    def run(budget: Long) = Curation.tokenBudgetSelect(rows, "doc_id", "tk", "sc", "grp", budget)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    // X at 22: 1 (cum 10) + 2 (cum 20); 3 would reach 25. Y at 22: 5+6 = 20
    assert(run(22L) == Set(("X", 1L), ("X", 2L), ("Y", 5L), ("Y", 6L)), s"got ${run(22L)}")
    // at 10 only the first doc per group fits — in Y that must be 5, not 6
    assert(run(10L) == Set(("X", 1L), ("Y", 5L)), s"got ${run(10L)}")
    // everything fits at 100
    assert(run(100L).size == 5)
    // a budget smaller than the best document keeps nothing
    assert(run(4L) == Set.empty, s"got ${run(4L)}")
  }

  test("tokenBudgetSelect: randomized corpora vs a driver greedy reference") {
    val rnd = new scala.util.Random(1111)
    for (trial <- 1 to 3) {
      val rows = (1L to (60 + trial * 30)).map { i =>
        ("g" + rnd.nextInt(3), i, 1L + rnd.nextInt(20),
          // 4-dp scores with deliberate ties, like the quality scorer emits
          rnd.nextInt(40) / 40.0)
      }
      val budget = 40L + rnd.nextInt(150)
      // .toSeq: flatMap over a Map yielding pairs would rebuild a Map and
      // silently dedup by group key
      val expected = rows.groupBy(_._1).toSeq.flatMap { case (g, docs) =>
        var cum = 0L
        docs.sortBy(t => (-t._4, t._2)).flatMap { t =>
          cum += t._3
          if (cum <= budget) Some((g, t._2)) else None
        }
      }.toSet
      val got = Curation.tokenBudgetSelect(
          rows.toDF("grp", "doc_id", "tk", "sc"), "doc_id", "tk", "sc", "grp", budget)
        .collect().map(r => (r.getString(0), r.getLong(1))).toSet
      assert(got == expected, s"trial $trial budget $budget: " +
        s"missing=${expected -- got} extra=${got -- expected}")
    }
  }

  test("removeHotSpans: hand-traced rewrite, fully-covered doc empties, unique text untouched") {
    val corpus = Seq(
      (1L, "one two three four five tail-a stays here now"), // shares the hot 5-gram
      (2L, "one two three four five tail-b keeps going too"), // shares it too
      (3L, "totally unique words that repeat in no other document at all"),
      (4L, "one two three four five"),                        // nothing BUT the hot gram
      (5L, "tiny doc")                                        // < n tokens, no shingles
    ).toDF("doc_id", "text")
    val out = Curation.removeHotSpans(corpus, "doc_id", "text", n = 5, minDf = 2)
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
    // "tail-a" normalizes to two tokens, so docs 1/2 share TWO hot
    // 5-grams: "one two three four five" (pos 0) and "two three four
    // five tail" (pos 1) — covered positions 0..5, six tokens removed
    assert(out(1L) == (("a stays here now", 10L, 6L)))
    assert(out(2L) == (("b keeps going too", 10L, 6L)))
    assert(out(3L)._3 == 0L && out(3L)._1.nonEmpty)
    assert(out(4L) == (("", 5L, 5L)))
    assert(out(5L) == (("tiny doc", 2L, 0L)))
  }

  test("redact masks emails and long digit runs, preserves short numbers") {
    val r = Seq("write to a.b+c@mail.example.org or call 12345678900, room 42")
      .toDF("text").select(Curation.redact(col("text"))).head().getString(0)
    assert(r == "write to <EMAIL> or call <NUM>, room 42")
  }

  test("vocabulary counts document and term frequency") {
    val v = Curation.vocabulary(docs, "doc_id", "text")
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(v("alpha") == (3L, 3L))
    assert(v("epsilon") == (2L, 2L))
    assert(v("iota") == (1L, 1L))
  }

  test("decontaminate drops docs sharing an n-gram with the benchmark") {
    val corpus = Seq(
      (1L, "one two three four five and more text after"), // contains the benchmark 5-gram
      (2L, "prefix words one two three four five"),        // contains it at the end
      (3L, "completely different words with no overlap at all"),
      (4L, "one two three"),                               // too short for a 5-gram
      (5L, "five four three two one")                      // same words, different order
    ).toDF("doc_id", "text")
    val bench = Seq((100L, "one two three four five")).toDF("doc_id", "text")
    val kept = Curation.decontaminate(corpus, bench, "doc_id", "text", n = 5)
      .collect().map(_.getLong(0)).toSet
    assert(kept == Set(3L, 4L, 5L))
    val hits = Curation.contaminationHits(corpus, bench, "doc_id", "text", n = 5)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(hits == Map(1L -> 1L, 2L -> 1L))
  }

  test("stratifiedSample == exact full-stratum rank, quota per stratum") {
    // 3 strata with very different sizes: 700, 250, 12 rows
    val rows = spark.range(962).select(col("id").as("doc_id"),
      when(col("id") < 700, "big").when(col("id") < 950, "mid").otherwise("tiny")
        .as("stratum"))
    val got = Curation.stratifiedSample(rows, "doc_id", "stratum", quota = 20)
    val counts = got.groupBy("stratum").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts == Map("big" -> 20L, "mid" -> 20L, "tiny" -> 12L))
    // reference: rank the FULL stratum by the same hash (no prefilter)
    val h = md5(concat(lit("strat|"), col("doc_id").cast("string")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("stratum").orderBy(h.asc, col("doc_id").asc)
    val full = rows.withColumn("rn", row_number().over(w))
      .where(col("rn") <= 20).select("doc_id", "stratum")
    assert(got.select("doc_id", "stratum").collect().toSet == full.collect().toSet)
    // deterministic across runs
    assert(Curation.stratifiedSample(rows, "doc_id", "stratum", 20)
      .collect().toSet == got.collect().toSet)
  }

  test("packSequences: contiguous per-shard chunks, offsets under budget") {
    val rows = Seq(
      (1L, 300L, 0L), (2L, 300L, 0L), (3L, 100L, 0L), (4L, 600L, 0L),
      (10L, 50L, 1L), (11L, 512L, 1L), (12L, 1L, 1L)
    ).toDF("doc_id", "n_words", "shard")
    val packed = Curation.packSequences(rows, "doc_id", "n_words", "shard", budget = 512L)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    // shard 0: starts at 0, 300, 600, 700 -> chunks 0,0,1,1; offsets 0,300,88,188
    assert(packed(1L) == (0L, 0L, 0L))
    assert(packed(2L) == (0L, 0L, 300L))
    assert(packed(3L) == (0L, 1L, 88L))
    assert(packed(4L) == (0L, 1L, 188L))
    // shard 1 packs independently: starts 0, 50, 562
    assert(packed(10L) == (1L, 0L, 0L))
    assert(packed(11L) == (1L, 0L, 50L))
    assert(packed(12L) == (1L, 1L, 50L))
    assert(packed.values.forall { case (_, _, off) => off >= 0 && off < 512 })
  }

  test("packBinsBfd: hand-computed placements, oversize isolation, fill beats arrival order") {
    val rows = Seq(
      // shard 0, decreasing order: 400, 300, 200, 100, 90
      // BFD: 400→bin0(rem112), 300→bin1(rem212), 200→bin1(rem12),
      //      100→bin0(rem12), 90 fits neither (12,12) → bin2
      (1L, 300L, 0L), (2L, 400L, 0L), (3L, 100L, 0L), (4L, 200L, 0L),
      (5L, 90L, 0L),
      // shard 1: an oversize doc gets a bin of its own at offset 0
      (10L, 600L, 1L), (11L, 512L, 1L), (12L, 1L, 1L)
    ).toDF("doc_id", "n_words", "shard")
    val got = Curation.packBinsBfd(rows, "doc_id", "n_words", "shard", budget = 512L)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got(2L) == ((0L, 0L, 0L)), s"got $got")
    assert(got(1L) == ((0L, 1L, 0L)), s"got $got")
    assert(got(4L) == ((0L, 1L, 300L)), s"got $got")
    assert(got(3L) == ((0L, 0L, 400L)), s"got $got")
    assert(got(5L) == ((0L, 2L, 0L)), s"got $got")
    // shard 1 decreasing: 600 (oversize, alone), 512 (exact fill), 1
    assert(got(10L) == ((1L, 0L, 0L)), s"got $got")
    assert(got(11L) == ((1L, 1L, 0L)), s"got $got")
    assert(got(12L) == ((1L, 2L, 0L)), s"got $got")
    // every document is placed exactly once, deterministically
    assert(got.size == 8)
    assert(Curation.packBinsBfd(rows, "doc_id", "n_words", "shard", 512L)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap == got)

    // randomized: no bin over budget (oversize docs alone excepted), and
    // BFD never uses more bins than arrival-order best-fit
    val rnd = new scala.util.Random(77)
    val big = (1L to 400L).map(i =>
      (i, 1L + rnd.nextInt(500).toLong, i % 4)).toDF("doc_id", "n_words", "shard")
    def binLoads(df: org.apache.spark.sql.DataFrame) = df
      .join(big.select(col("doc_id"), col("n_words")), Seq("doc_id"))
      .groupBy("shard", "bin").agg(sum("n_words").as("load"), count(lit(1)).as("n"))
    val bfd = Curation.packBinsBfd(big, "doc_id", "n_words", "shard", 512L)
    val arrival = Curation.packBinsBfd(big, "doc_id", "n_words", "shard", 512L,
      decreasing = false)
    val over = binLoads(bfd).where(col("load") > 512L && col("n") > 1L).count()
    assert(over == 0L, s"$over multi-doc bins over budget")
    val nBfd = bfd.select("shard", "bin").distinct().count()
    val nArr = arrival.select("shard", "bin").distinct().count()
    assert(nBfd <= nArr, s"BFD used $nBfd bins vs arrival $nArr")
  }

  test("formatRoundTrip csv: header, empty string vs null, embedded newline and quote survive") {
    val dir = java.nio.file.Files.createTempDirectory("graft-csvfid").toString
    val rows = Seq(
      (1L, "plain text", Option("en")),
      (2L, "", Option("de")),                     // empty string, NOT null
      (3L, "line one\nline two", Option("fr")),   // embedded newline
      (4L, "she said \"hi\", twice", None),       // quote + delimiter; null lang
      (5L, "\\N", Option("pl")),                  // LITERAL \N — not a null (r13)
      (6L, "a\\path\\with \\N inside", Option("cz")) // backslashes elsewhere
    ).toDF("id", "text", "lang")
    val back = Curation.formatRoundTrip(rows, dir, "csv")
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), Option(r.getString(2))))).toMap
    assert(back(1L) == (("plain text", Some("en"))), s"got $back")
    assert(back(2L) == (("", Some("de"))), s"empty string coerced: ${back(2L)}")
    assert(back(3L) == (("line one\nline two", Some("fr"))), s"got ${back(3L)}")
    assert(back(4L) == (("she said \"hi\", twice", None)), s"got ${back(4L)}")
    assert(back(5L) == (("\\N", Some("pl"))),
      s"literal \\N corrupted to null: ${back(5L)}")
    assert(back(6L) == (("a\\path\\with \\N inside", Some("cz"))), s"got ${back(6L)}")
    // the header row is really written (self-describing files)
    val firstLine = scala.io.Source.fromFile(
      new java.io.File(dir).listFiles().filter(_.getName.endsWith(".csv")).head)
      .getLines().next()
    assert(firstLine == "id,text,lang", s"got header '$firstLine'")
  }

  test("bloomAgg/mightContain: no false negatives, low false-positive rate") {
    import graft.functions.BloomFunctions
    val build = spark.range(1000).select(concat(lit("in-"), col("id")).as("s"))
    val sketch = build.agg(BloomFunctions.bloomAgg(col("s"), 1000L))
      .head.getAs[Array[Byte]](0)
    val inHits = build.where(BloomFunctions.mightContain(lit(sketch), col("s"))).count()
    assert(inHits == 1000L) // a bloom filter never misses a member
    val out = spark.range(5000).select(concat(lit("out-"), col("id")).as("s"))
    val fp = out.where(BloomFunctions.mightContain(lit(sketch), col("s"))).count()
    assert(fp < 250L, s"false-positive count $fp way above the ~1% design rate")
  }

  test("decontaminateBloom equals exact decontaminate") {
    val corpus = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "one two three four five six seven eight nine"),
      (3L, "alpha beta gamma delta epsilon other tail words"),
      (4L, "totally clean document with none of the bench grams here"))
      .toDF("doc_id", "text")
    val bench = Seq((100L, "alpha beta gamma delta epsilon")).toDF("doc_id", "text")
    val exact = Curation.decontaminate(corpus, bench, "doc_id", "text", n = 5)
      .collect().map(_.getLong(0)).toSet
    val bloom = Curation.decontaminateBloom(corpus, bench, "doc_id", "text", n = 5)
      .collect().map(_.getLong(0)).toSet
    assert(exact == Set(2L, 4L))
    assert(bloom == exact)
    // empty benchmark: everything survives on both paths
    val none = bench.where(lit(false))
    assert(Curation.decontaminateBloom(corpus, none, "doc_id", "text", n = 5).count() == 4L)
  }

  test("exportPartitioned: manifest matches direct counts, partitions prunable") {
    val labeled = Seq(
      (1L, "train", "en"), (2L, "train", "en"), (3L, "train", "de"),
      (4L, "val", "en"), (5L, "test", "de"))
      .toDF("doc_id", "split", "lang")
    val dir = java.nio.file.Files.createTempDirectory("graft-exp").toString
    val manifest = Curation.exportPartitioned(labeled, dir, Seq("split", "lang"))
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val direct = labeled.groupBy("split", "lang").count()
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(manifest == direct)
    // one partition directory reads independently (the pruning layout)
    val one = spark.read.parquet(s"$dir/split=train/lang=en")
    assert(one.count() == 2L)
    val ids = one.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(ids == Set(1L, 2L))
  }

  test("countMinReport: est >= exact always, exact when collision-free") {
    import graft.pipeline.Sketches
    val keys = (1 to 100).flatMap(i => Seq.fill(i % 5 + 1)(s"k${i % 10}"))
      .zipWithIndex.map { case (k, i) => (i.toLong, k) }
    val df = keys.toDF("id", "key")
    // wide sketch: 10 keys into 512 buckets × 3 rows — collisions ~0
    val wide = Sketches.countMinReport(df, "key", depth = 3, width = 512)
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(wide.size == 10)
    wide.foreach { case (k, (est, exact)) => assert(est == exact, s"$k: $est != $exact") }
    // narrow sketch: collisions force overcounts, never undercounts
    val narrow = Sketches.countMinReport(df, "key", depth = 2, width = 4)
      .collect().map(r => (r.getLong(1), r.getLong(2)))
    narrow.foreach { case (est, exact) => assert(est >= exact) }
    assert(narrow.map(_._1).sum > narrow.map(_._2).sum) // some collision happened
  }

  test("curationFunnel: chained stage counts, monotone and hand-checked") {
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog tonight"),
      (2L, "the quick brown fox jumps over the lazy dog tonight"),  // exact dup of 1
      (3L, "the quick brown fox jumps over the lazy cat tonight"),  // near dup of 1
      (4L, "alpha beta gamma delta epsilon zeta eta theta"),        // contaminated
      (5L, "unique words entirely separate from everything else here"))
      .toDF("doc_id", "text")
    val bench = Seq((100L, "alpha beta gamma delta epsilon")).toDF("doc_id", "text")
    val funnel = pipeline.Curation.curationFunnel(corpus, bench, "doc_id", "text")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // raw 5 → exact dedup drops 2 → near-dup drops 3 → decontam drops 4
    assert(funnel == Map("raw" -> 5L, "exact_dedup" -> 4L,
      "near_dedup" -> 3L, "decontaminated" -> 2L))
  }

  /** A funnel corpus with an exact copy, two near-dup clusters (one of
    * them a chain of three) and unrelated singletons. */
  private def funnelCorpus = Seq(
    (1L, "the quick brown fox jumps over the lazy dog tonight"),
    (2L, "the quick brown fox jumps over the lazy dog tonight"),    // exact dup of 1
    (3L, "the quick brown fox jumps over the lazy cat tonight"),    // near dup of 1
    (4L, "the quick brown fox jumps over the lazy cat this morning"), // near dup of 3
    (5L, "river boats carry grain down to the harbor every autumn"),
    (6L, "river boats carry grain down to the harbor every winter"), // near dup of 5
    (7L, "alpha beta gamma delta epsilon zeta eta theta"),          // contaminated
    (8L, "unique words entirely separate from everything else here"))
    .toDF("doc_id", "text")

  private def funnelCounts(df: org.apache.spark.sql.DataFrame): Map[String, Long] =
    df.collect().map(r => r.getString(0) -> r.getLong(1)).toMap

  test("curationFunnel: dupLabels over the raw corpus give the internal labels' stage counts") {
    val corpus = funnelCorpus
    val bench = Seq((100L, "alpha beta gamma delta epsilon")).toDF("doc_id", "text")
    val internal = funnelCounts(Curation.curationFunnel(corpus, bench, "doc_id", "text"))
    val labels = ConnectedComponents.labels(
      Dedup.ngramJaccardViaMinhash(corpus, "doc_id", "text").select("a", "b"))
    val external = funnelCounts(Curation.curationFunnel(corpus, bench, "doc_id", "text",
      dupLabels = Some(labels)))
    assert(external == internal)
    // the near-dup stage really drops something, or the labels are idle
    assert(internal("near_dedup") < internal("exact_dedup"), s"got $internal")
  }

  test("curationFunnel: near_dedup counts dedupNearKeepFirst over the exact-dedup survivors") {
    val corpus = funnelCorpus
    val bench = Seq((100L, "alpha beta gamma delta epsilon")).toDF("doc_id", "text")
    val funnel = funnelCounts(Curation.curationFunnel(corpus, bench, "doc_id", "text"))
    val s1 = Curation.dedupExactKeepFirst(corpus, "doc_id", "text")
    assert(s1.count() == funnel("exact_dedup"))
    assert(Curation.dedupNearKeepFirst(s1, "doc_id", "text").count() == funnel("near_dedup"))
  }

  test("curationFunnel: the rare-shingle arm drops an engulfed-prefix document at contain_dedup") {
    val long = "orchards along the valley floor bloom early when the spring rains " +
      "arrive before the equinox and the growers prune the old branches back"
    // doc 9 is the first seven words of doc 1: containment 1.0, Jaccard
    // 5/21, so the near-dup stage keeps it and only the arm can drop it
    val corpus = Seq((1L, long), (9L, long.split(" ").take(7).mkString(" ")),
      (5L, "unique words entirely separate from everything else here")).toDF("doc_id", "text")
    val bench = Seq((100L, "alpha beta gamma delta epsilon")).toDF("doc_id", "text")
    val off = funnelCounts(Curation.curationFunnel(corpus, bench, "doc_id", "text"))
    val on = funnelCounts(Curation.curationFunnel(corpus, bench, "doc_id", "text",
      rareShingleArm = true))
    assert(off == Map("raw" -> 3L, "exact_dedup" -> 3L, "near_dedup" -> 3L,
      "decontaminated" -> 3L), s"got $off")
    assert(on == Map("raw" -> 3L, "exact_dedup" -> 3L, "near_dedup" -> 3L,
      "contain_dedup" -> 2L, "decontaminated" -> 2L), s"got $on")
  }

  test("ConnectedComponents.labels matches GraphX dupClusters on assorted graphs") {
    // a long path (deep propagation), a clique, a star, reversed edges,
    // and two joined chains — the shapes near-dup pair graphs produce
    val path = (0L until 40L).sliding(2).map(w => (w(1), w(0))).toSeq // reversed
    val clique = for (a <- 50L to 55L; b <- 50L until a) yield (b, a)
    val star = (61L to 70L).map(m => (60L, m))
    val vee = Seq((80L, 81L), (81L, 82L), (85L, 84L), (84L, 83L), (82L, 83L))
    val pairs = (path ++ clique ++ star ++ vee).toDF("a", "b")
    val df = ConnectedComponents.labels(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val gx = GraphXReference.dupClusters(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(df == gx)
    assert(df(39L) == 0L && df(55L) == 50L && df(70L) == 60L && df(85L) == 80L)
  }

  test("ConnectedComponents.labels: randomized graphs vs driver union-find") {
    val rnd = new scala.util.Random(20260813L) // fixed seed: reproducible
    for (trial <- 1 to 3) {
      val nNodes = 60 + trial * 30
      val nEdges = nNodes * 2
      val edges = Seq.fill(nEdges)((rnd.nextInt(nNodes).toLong, rnd.nextInt(nNodes).toLong))
        .filter { case (a, b) => a != b }
      // driver-side union-find ground truth (min-id labeling)
      val parent = Array.tabulate(nNodes)(identity)
      def find(x: Int): Int = if (parent(x) == x) x else { parent(x) = find(parent(x)); parent(x) }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a.toInt), find(b.toInt))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val inGraph = edges.flatMap(e => Seq(e._1, e._2)).toSet
      val truth = inGraph.map(v => v -> find(v.toInt).toLong).toMap
      val got = ConnectedComponents.labels(edges.toDF("a", "b"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == truth, s"trial $trial mismatch")
    }
  }

  test("ConnectedComponents.labels converges fast on a path graph") {
    // 200-node path: plain min-propagation would need ~200 rounds; the
    // pointer-jumping variant must land well inside the default budget
    val pairs = (0L until 200L).sliding(2).map(w => (w(0), w(1))).toSeq.toDF("a", "b")
    val labels = ConnectedComponents.labels(pairs, maxIters = 12)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels.size == 200 && labels.values.forall(_ == 0L))
  }

  test("cc spends ONE job per round: convergence fused into the checkpoint action") {
    // star 1-{2,3}: round 1 relabels, round 2 proves the fixpoint
    val (labels, jobs) = countJobs(ConnectedComponents.labels(Seq((1L, 2L), (1L, 3L)).toDF("a", "b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap)
    assert(labels == Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
    // budget: 1 init-checkpoint job + 1 job per round (2 rounds) + the
    // final collect = 4 (+1 slack for first()'s incremental partition
    // scan). The old separate limit(1).count() probe spent 2 jobs per
    // round and needed 6+.
    assert(jobs <= 5, s"cc spent $jobs jobs for 2 rounds + init + collect " +
      "(convergence probe no longer fused?)")
  }

  test("semanticPairs caps mega-cluster pair fan-out via deterministic sub-split") {
    import graft.pipeline.Dedup
    // one dominant near-identical region: 60 copies of the same direction
    // (tiny id-dependent wiggle keeps vectors distinct but co-clustered)
    // plus a handful of far-away rows — k-means collapses the 60 into ONE
    // cluster, the worst case the guard exists for
    val rows = (0L until 60L).map(i =>
        (i, Array(1.0f, 1.0f + i * 1e-6f, 1.0f, 1.0f))) ++
      Seq((100L, Array(-5f, 4f, -3f, 2f)), (101L, Array(4f, -5f, 2f, -3f)))
    val df = rows.toDF("vec_id", "embedding")

    val unguarded = Dedup.semanticPairs(df, "vec_id", "embedding",
      k = 3, iters = 2, minCos = -1.0, maxClusterSize = 100000)
    val guarded = Dedup.semanticPairs(df, "vec_id", "embedding",
      k = 3, iters = 2, minCos = -1.0, maxClusterSize = 10)
    val nUnguarded = unguarded.count()
    val nGuarded = guarded.count()
    // unguarded: the 60-cluster alone is C(60,2) = 1770 pairs; the guard
    // splits it into ceil(60/10)=6 hash cells, bounding the fan-out near
    // sum C(10,2)*6 = 270 (hash imbalance allows some slack, never the
    // full quadratic blow-up)
    assert(nUnguarded >= 1770L, s"fixture lost its mega-cluster: $nUnguarded")
    assert(nGuarded > 0L && nGuarded < 800L,
      s"guard did not bound the mega-cluster join: $nGuarded pairs")
    // guarded pairs are a SUBSET of the unguarded candidate pairs
    assert(guarded.select("a", "b").except(unguarded.select("a", "b")).count() == 0L)
    // clusters at or under the cap are untouched: same result either way
    val few = df.where(col("vec_id") >= 100L)
    val a = Dedup.semanticPairs(few, "vec_id", "embedding",
      k = 2, iters = 1, minCos = -1.0, maxClusterSize = 10).collect().toSet
    val b = Dedup.semanticPairs(few, "vec_id", "embedding",
      k = 2, iters = 1, minCos = -1.0, maxClusterSize = 100000).collect().toSet
    assert(a == b)
  }
}

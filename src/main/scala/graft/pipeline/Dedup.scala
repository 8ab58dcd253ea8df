package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.Materialize.{checkpoint, using}

/** Deduplication operators for training-data pipelines. Scale design:
  *
  *  - exact dedup is one hash-groupBy (map-side combined, AQE-coalesced);
  *  - MinHash/LSH banding turns the O(n²) near-dup search into an equi-join
  *    on (band, band-signature) — candidates shuffle only within buckets;
  *  - SimHash reduces each document to a 64-bit signature; near-dups share
  *    signatures (or differ in few bits, comparable bucket-wise);
  *  - n-gram Jaccard verifies candidate pairs exactly with a shingle
  *    explode + equi-join + group count (never a cross join);
  *  - embedding cosine near-dup uses bucketed candidate generation at scale
  *    (see Similarity.lshCosineTopK) or windowed self-join for small inputs.
  *
  * The hash primitive everywhere is md5-hex (engine-portable, so the DuckDB
  * oracle can reproduce signatures bit-for-bit).
  */
object Dedup {

  /** Exact duplicate groups by content hash of `col`: (content_hash, dup_cnt,
    * keep_id) with keep_id = the minimum id (deterministic survivor). */
  def exactDupGroups(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(md5(col(textCol)).as("content_hash"))
      .agg(count(lit(1)).as("dup_cnt"), min(col(idCol)).as("keep_id"))
      .where(col("dup_cnt") > 1)

  /** Band hash i of a shingle: an 8-hex-char (32-bit) slice of ONE md5 of
    * the shingle. One digest yields k ≤ 4 independent band hashes — 4×
    * less hashing CPU and a 4× smaller signature payload than the older
    * k-independent-digest form (md5("<i>|shingle") per band), with the
    * same min-wise statistics (md5's 32-bit slices are independent) and
    * the same DuckDB portability (substr(md5(x), 8i+1, 8)). */
  private def bandHash(i: Int, shingle: Column): Column =
    substring(md5(shingle), 8 * i + 1, 8)

  /** The k MinHash aggregates h0..h{k-1} over a group's `shingle` rows:
    * hash i = min of [[bandHash]] i. */
  private def minhashAggs(k: Int): Seq[Column] =
    (0 until k).map(i => min(bandHash(i, col("shingle"))).as(s"h$i"))

  /** Per-document MinHash signatures h0..h(k-1) over word-3-gram shingles:
    * hash i = min over shingles of [[bandHash]] i — the classic
    * per-permutation min-wise hash in portable hex-string space, computed on
    * the long-form shingle plan (codegen'd, map-side partial min, one
    * shuffle by id). Documents with fewer than 3 words are excluded. */
  def minhashSignatures(df: DataFrame, idCol: String, textCol: String, k: Int = 4): DataFrame = {
    val sigs = minhashAggs(k)
    TextAnalysis.shingleRows(df, idCol, textCol, 3)
      .groupBy(idCol)
      .agg(sigs.head, sigs.tail: _*)
  }

  /** Per-row minhash signature columns h0..h{k-1} — the aggregation-free
    * form of [[minhashSignatures]] for contexts where a groupBy cannot run
    * (per-row streaming transforms). Identical values: the same md5 band
    * hashes, minimized with array_min over the same shingle strings
    * ([[TextAnalysis.wordShingles]] == shingleRows, pinned by tests).
    * Rows with fewer than n words yield null signatures (empty shingle
    * array). The higher-order transform() is not codegen'd — use the
    * aggregation form for batch corpora; this is the streaming price. */
  def signatureColumns(text: Column, n: Int = 3, k: Int = 4): Seq[Column] =
    (0 until k).map { i =>
      array_min(transform(TextAnalysis.wordShingles(text, n),
        s => bandHash(i, s))).as(s"h$i")
    }

  /** LSH banding: candidate near-dup pairs (a < b) sharing at least one of
    * the k single-hash bands — [[bandedCandidates]] over
    * [[minhashSignatures]], so the hot-bucket bound every minhash propose
    * (and the DuckDB oracle) applies holds here too. Equi-join on (band
    * index, hash) — at scale the shuffle is by bucket, never all-pairs.
    * The hot-bucket rollup and both self-join sides read the signature
    * frame, so it is checkpointed first: left as a lazy aggregate, every
    * reader re-ran the corpus shingle scan (four scans per action). */
  def minhashCandidatePairs(df: DataFrame, idCol: String, textCol: String, k: Int = 4): DataFrame =
    bandedCandidates(
      checkpoint(minhashSignatures(df, idCol, textCol, k).withColumnRenamed(idCol, "doc")), k)

  /** 64-bit SimHash over word tokens: bit j of the signature is the sign of
    * sum over tokens of (bit j of md5(token) ? +1 : -1). `bits` trades
    * precision for cost (the oracle uses 16). Computed on the long-form
    * token plan: md5 once per token, then `bits` conditional sums in ONE
    * map-side-combined aggregation. Returns (id, simhash). */
  def simhash(df: DataFrame, idCol: String, textCol: String, bits: Int = 64): DataFrame = {
    // bit j of a token = bit (3 - j%4) of hex digit j/4 of its md5
    def tokenBit(h: Column, j: Int): Column = {
      val digit = substring(h, j / 4 + 1, 1)
      val v = (instr(lit("0123456789abcdef"), digit) - 1).cast("int")
      v.bitwiseAND(1 << (3 - j % 4)).notEqual(0)
    }
    val contribs = (0 until bits).map(j =>
      sum(when(tokenBit(col("__h"), j), 1).otherwise(-1)).as(s"c$j"))
    val perDoc = TextAnalysis.tokenRows(df, idCol, textCol)
      .withColumn("__h", md5(col("word")))
      .groupBy(idCol)
      .agg(contribs.head, contribs.tail: _*)
    val sig = (0 until bits).map(j =>
      when(col(s"c$j") > 0, lit(1L << (bits - 1 - j))).otherwise(lit(0L)))
      .reduce(_ + _)
    perDoc.select(col(idCol), sig.as("simhash"))
  }

  /** Exact n-gram Jaccard similarity for all pairs sharing at least one
    * shingle: |A∩B| / |A|+|B|-|A∩B| via shingle-set explode + equi-join.
    * Returns pairs (a, b, jaccard) with a < b and jaccard >= minSim.
    * `maxShingleDf` (0 = off) drops shingles whose document frequency
    * exceeds the bound BEFORE the self-join — the 100 TB guard against
    * join fan-out on boilerplate shingles (SCALE.md). Filtering changes
    * the measured shingle sets, so sizes are computed after the filter
    * (the estimate degrades gracefully instead of exploding). */
  def ngramJaccardPairs(df: DataFrame, idCol: String, textCol: String,
                        n: Int = 3, minSim: Double = 0.5,
                        maxShingleDf: Long = 0L): DataFrame = {
    // per-doc dedup fused into the narrow shingle kernel — no corpus-wide
    // dropDuplicates(doc, shingle) exchange
    val raw = TextAnalysis.shingleRowsDistinct(df, idCol, textCol, n)
      .withColumnRenamed(idCol, "doc")
    val bounded =
      if (maxShingleDf <= 0) raw
      else raw.join(
        raw.groupBy("shingle").agg(count(lit(1)).as("__df"))
          .where(col("__df") <= maxShingleDf).select("shingle"),
        Seq("shingle"), "left_semi")
    // The shingle table feeds three consumers (sizes + both join sides), so
    // it is persisted — but scoped to THIS call: the small pair result is
    // materialized eagerly (the checkpoint cuts its lineage off the cache)
    // and the persist released before returning. A session-lifetime cache
    // entry per corpus would accumulate until executors evict hot data;
    // measured alternative (no persist, exchange reuse) was 3× slower.
    using(bounded, fill = true) { distinctShingles =>
      val sizes = distinctShingles.groupBy("doc").agg(count(lit(1)).as("n_sh"))
      val exploded = distinctShingles
      val inter = exploded.select(col("doc").as("a"), col("shingle"))
        .join(exploded.select(col("doc").as("b"), col("shingle")), Seq("shingle"))
        .where(col("a") < col("b"))
        .groupBy("a", "b").agg(count(lit(1)).as("inter"))
      checkpoint(inter
        .join(sizes.select(col("doc").as("a"), col("n_sh").as("na")), Seq("a"))
        .join(sizes.select(col("doc").as("b"), col("n_sh").as("nb")), Seq("b"))
        .select(col("a"), col("b"),
          round(col("inter").cast("double") /
            (col("na") + col("nb") - col("inter")).cast("double"), 4).as("jaccard"))
        .where(col("jaccard") >= minSim))
    }
  }

  /** Exact n-gram Jaccard restricted to an explicit candidate pair set
    * (a, b): each pair is verified by equi-joining only the two documents'
    * distinct shingle sets — cost is bounded by the candidate list, never by
    * hot shingles. The 100 TB verify stage for LSH-proposed candidates. */
  def jaccardVerifyPairs(df: DataFrame, candidates: DataFrame,
                         idCol: String, textCol: String,
                         n: Int = 3, minSim: Double = 0.5): DataFrame = {
    val sh = TextAnalysis.shingleRows(df, idCol, textCol, n)
      .withColumnRenamed(idCol, "doc")
    verifyJaccard(shingleSets(sh), candidates.select("a", "b"), minSim)
  }

  /** Scale-safe exact near-dup detection: MinHash/LSH banding proposes
    * candidate pairs (equi-join on (band, signature) buckets — never
    * all-pairs, immune to boilerplate-shingle fan-out), then every candidate
    * is verified with the exact n-gram Jaccard. Precision is exact; recall
    * follows the banding probability 1-(1-J)^k. The shingle table feeds
    * the signature and verify stages, so it is persisted (measured 2×
    * faster than recompute, 3× faster than relying on exchange reuse) —
    * but scoped to this call: the small pair result is materialized
    * eagerly (the checkpoint cuts its lineage off the cache) and the
    * persist released before returning, so repeated calls over different
    * corpora leave nothing in the session CacheManager (asserted by
    * PipelineSpec's leak test). */
  def ngramJaccardViaMinhash(df: DataFrame, idCol: String, textCol: String,
                             n: Int = 3, k: Int = 4, minSim: Double = 0.5): DataFrame =
    // the signature frame comes from the AGGREGATION form, not a row-local
    // projection: a same-JVM A/B (warm reps, sf0.1 planted-dup corpus)
    // measured the codegen'd explode+hashAggregate at 1.6-1.7 s vs
    // 2.6-3.3 s for the interpreted higher-order-function projection —
    // and the aggregation's exchange is NOT the exploded shingle stream:
    // explode preserves row locality, so map-side partial aggregation
    // collapses each doc's shingles to (sigs, set) partials before the
    // doc-keyed shuffle moves anything. Whole-stage codegen on the hash
    // path wins; the zero-exchange form only pays off when the frame is
    // SHARED across stages (see Curation.curationFunnel's fusion).
    minhashProposeVerify(df, idCol, textCol, n, k)(verifyJaccard(_, _, minSim))

  /** The propose → verify → checkpoint flow of every minhash near-dup
    * operator: shingle once, build the one-pass [[perDocSigsAndSet]]
    * frame, propose with [[bandedCandidates]] and checkpoint
    * `verify(perDoc, candidates)`. The frame is filled before the
    * candidate and verify subtrees read it concurrently
    * ([[graft.Materialize]], eager fill) and released on return. */
  private def minhashProposeVerify(df: DataFrame, idCol: String, textCol: String,
                                   n: Int, k: Int)(
      verify: (DataFrame, DataFrame) => DataFrame): DataFrame =
    using(perDocSigsAndSet(
        TextAnalysis.shingleRows(df, idCol, textCol, n).withColumnRenamed(idCol, "doc"), k),
        fill = true) { perDoc =>
      checkpoint(verify(perDoc, bandedCandidates(perDoc, k)))
    }

  /** ONE doc-keyed aggregation producing the k banded min-hash signatures
    * AND the capped distinct-shingle array together: min() over the raw
    * shingle multiset equals min() over the set, and array_distinct
    * dedupes per-doc INSIDE the aggregation — so the corpus-wide
    * dropDuplicates(doc, shingle) shuffle and the second per-doc
    * aggregation the old propose/verify pipeline paid are both gone
    * (three doc-keyed exchanges → one). Input rows need not be distinct.
    * Output: (doc, h0..h{k-1}, __set, __capped) with __set capped like
    * [[shingleSets]] (same bottom-k-by-hash estimate semantics);
    * __capped marks docs whose distinct-shingle count exceeded the cap —
    * consumers that need the FULL hash stream (e.g. the fused funnel's
    * rare-shingle proposer, round 13) re-derive it for exactly those
    * docs instead of silently proposing from a truncated sketch. */
  private[pipeline] def perDocSigsAndSet(shRaw: DataFrame, k: Int): DataFrame = {
    val sigs = minhashAggs(k)
    // collect_set dedupes DURING partial aggregation (map-side hash set),
    // so reduce-side buffers arrive pre-deduped; the previous
    // array_distinct(collect_list(struct(h, s))) shipped the raw multiset
    // and paid an O(n²) interpreted struct-equality distinct per doc on
    // the (AQE-coalesced) reduce side — measured as the pipeline's
    // hottest stage at sf0.1. The set is collected as xxhash64 LONGS, not
    // strings — see [[shingleSets]] for the payload/intersection rationale.
    val collected = collect_set(xxhash64(col("shingle"))).as("__hs")
    shRaw.groupBy("doc").agg(sigs.head, (sigs.tail :+ collected): _*)
      .withColumn("__set", capShingleSet(col("__hs")))
      .withColumn("__capped", size(col("__hs")) > lit(MaxVerifyShinglesPerDoc))
      .drop("__hs")
  }

  /** Candidate pairs from a (doc, h0..h{k-1}) signature frame — a
    * [[perDocSigsAndSet]] or renamed [[minhashSignatures]] frame: k
    * (band, sig) buckets exploded per doc, bucket equi-join, a < b. Never
    * all-pairs.
    *
    * HOT-BUCKET bound (round 15):
    * a (band, sig) bucket with B members emits B(B−1)/2 pairs, and
    * boilerplate shingles make bucket sizes grow LINEARLY with the corpus
    * — measured on the 100× probe corpus (every doc carries a shared
    * tail phrase): top bucket 128 → 1 288 → 13 057 docs at 1×/10×/100×,
    * proposed pairs 245 k → 6.7 M → 497 M, i.e. QUADRATIC — the classic
    * near-dup scale killer. Buckets larger than `maxBucket` (0 = off)
    * are dropped before the self-join: at that size a bucket is
    * boilerplate-driven and its pairs are overwhelmingly sub-threshold
    * at verify. RECALL trade where it bites: a true pair is lost only if
    * EVERY band it collides in is hot (it has k independent chances) —
    * the `maxShingleDf`/`maxPerKey` graceful-degradation contract. The
    * default never binds at gate/bench scale (largest measured bucket
    * 128 at sf0.1); the DuckDB minhash oracles mirror the same bound.
    * The size check is a broadcast ANTI-join against the (tiny) list of
    * hot buckets: the rollup computes once as the broadcast build, and
    * the pair self-join's children keep their exchange-reuse — A/B at
    * sf0.1 measured a semi-join/window filter at +1.3/+2.3 s per
    * propose (both double-computed the filtered subtree under the
    * self-join) vs ~+0.3 s for the anti form. The hot list is bounded
    * by 4N/maxBucket rows; a pathological corpus that overflows the
    * broadcast threshold degrades to a shuffled anti-join, not an
    * error.
    *
    * CAP POLICY — fixed C, not N-scaled (round 16, VERDICT r15 #6):
    * each doc contributes exactly k (band, sig) memberships, so
    * Σ_buckets b = kN and the capped propose volume
    * Σ_{b ≤ C} b(b−1)/2 ≤ (C−1)/2 · kN — a LINEAR envelope with slope
    * k(C−1)/2 ≈ 2 000 pairs/doc at the defaults. The measured
    * still-super-linear residual at 100× (~1.24×/datum, SCALE.md) is
    * the SUB-CAP TAIL approaching that envelope from below: a bucket
    * family growing with the corpus contributes ~b²/2 pairs until it
    * crosses C, then drops out entirely, so mid-size buckets transit a
    * quadratic ramp under a linear ceiling — the census (ScaleProbe
    * lshcensus) confirms the capped volume stays 25–40× under the
    * envelope at every rung: sub-cap mass 245 k / 5.2 M / 86.2 M vs
    * envelope 21.5 M / 215 M / 2.15 B at 1×/10×/100×. Scaling C
    * with N would reintroduce super-linearity (envelope k·N·C(N)/2)
    * and is never the right knob; if propose volume must shrink
    * further, lower `maxShingleDf` (kills boilerplate shingles before
    * they form buckets) or raise k/band width so buckets scale with N
    * (the minhash sig space does; see SimHash round 15). */
  private[pipeline] def bandedCandidates(perDoc: DataFrame, k: Int,
                                         maxBucket: Int = 1024): DataFrame = {
    val banded = perDoc.select(col("doc"),
      explode(array((0 until k).map(i => struct(lit(i).as("band"), col(s"h$i").as("sig"))): _*))
        .as("b"))
      .select(col("doc"), col("b.band"), col("b.sig"))
    val kept =
      if (maxBucket <= 0) banded
      else banded.join(
        broadcast(banded.groupBy("band", "sig").agg(count(lit(1)).as("__n"))
          .where(col("__n") > maxBucket).select("band", "sig")),
        Seq("band", "sig"), "left_anti")
    kept.select(col("doc").as("a"), col("band"), col("sig"))
      .join(kept.select(col("doc").as("b"), col("band"), col("sig")), Seq("band", "sig"))
      .where(col("a") < col("b"))
      .select("a", "b").distinct()
  }

  /** One-pass similarity report — the shared-pipeline production shape:
    * the shingle scan, signature aggregation, and candidate bucket join
    * run ONCE, and a single intersection aggregation scores every measure
    * (Jaccard and max-containment) per candidate pair. Running
    * [[ngramJaccardViaMinhash]] and [[containmentViaMinhash]] separately
    * costs two propose stages for the same candidates; this costs one.
    * Pairs are kept when EITHER measure clears its threshold; both scores
    * are always reported. Recall follows the banding probability of the
    * pair's Jaccard (the containment caveat of [[containmentViaMinhash]]
    * applies). Returns (a, b, jaccard, containment). */
  def similarityReport(df: DataFrame, idCol: String, textCol: String,
                       n: Int = 3, k: Int = 4, minSim: Double = 0.5,
                       minContain: Double = 0.9): DataFrame =
    // both measures score from the one intersection projection
    minhashProposeVerify(df, idCol, textCol, n, k)(verifyOverlap(_, _, Seq(Jaccard, Containment),
      col("jaccard") >= minSim || col("containment") >= minContain))

  /** Incremental exact dedup — the daily-ingest production shape: dedupe
    * a new `batch` against an already-ingested corpus using ONLY the
    * corpus's stored content hashes (never re-reading corpus text), plus
    * within-batch survivor selection (minimum id per content group).
    * The corpus side is a single hash column — at 100 TB that is the
    * compact dedup index a pipeline maintains across ingests; the batch
    * (small by definition) pays one hash groupBy and one anti-join.
    * Returns the surviving batch rows. */
  def dedupIncrement(corpusHashes: DataFrame, batch: DataFrame,
                     idCol: String, textCol: String): DataFrame = {
    // the index must be EXACTLY one column: silently anti-joining on the
    // first of several (e.g. a (doc_id, hash) frame passed by mistake)
    // would return wrong survivors instead of failing
    require(corpusHashes.columns.length == 1,
      s"corpusHashes must be a single hash column; " +
        s"got ${corpusHashes.columns.mkString("(", ", ", ")")}")
    // survivor selection is a hash-keyed AGGREGATE whose winner carries the
    // whole row (min_by on id): partial aggregation combines hot content
    // groups map-side — a boilerplate page copied across the batch
    // contributes one partial row per map partition, never every occurrence
    // on one reducer the way the earlier Window.partitionBy(hash) form did
    // (windows do no map-side combine, so the hottest key was a straggler
    // shape — the same skew class paragraphDedup fixed). The batch subtree
    // still appears ONCE in the plan (no groupBy + semi-join back, which
    // made Catalyst re-analyze AND re-execute the union-shaped batch tree
    // on both sides — measured 3-6x slower than either single-subtree
    // form). Measured trade, accepted deliberately: the string-bearing
    // min_by buffer is not UnsafeRow-mutable, so both aggregation halves
    // plan as SortAggregate (~2x the window form on the sf0.1 fixture,
    // ~1 s absolute) — the constant buys a plan with NO per-key reducer
    // state, which is what survives a million-copy boilerplate group.
    // (Catalyst pushes the index anti-join BELOW the aggregate — grouping
    // key == join key — so known-content rows drop before the sort.)
    val cols = batch.columns.toSeq
    batch.withColumn("__h", md5(col(textCol)))
      .groupBy("__h")
      .agg(min_by(struct(cols.map(col): _*), col(idCol)).as("__w"))
      .join(corpusHashes.select(col(corpusHashes.columns.head).as("__h")).distinct(),
        Seq("__h"), "left_anti")
      .select(cols.map(c => col(s"__w.$c").as(c)): _*)
  }

  /** Banding-config tuning report: verified Jaccard pairs bucketed by a
    * THRESHOLD LADDER from ONE propose/verify pass — (threshold, n_pairs,
    * n_docs) per requested minimum, instead of one full shingle scan /
    * signature agg / candidate join / verification per threshold tried.
    * Counts are monotone decreasing in the threshold by construction.
    * Caveat shared with every banding path: pair RECALL at a threshold is
    * the banding recall at that similarity (1−(1−J)^k per band count), so
    * the ladder tunes the verify cutoff, not the banding itself. More
    * precisely: because the single propose stage runs ONCE (at the
    * ladder's minimum), PROPOSAL recall for EVERY rung is that of
    * `thresholds.min` — a pair whose Jaccard clears a high rung can still
    * be missed if banding missed it at propose time, so high-rung counts
    * inherit the low rung's recall rather than the (higher) banding
    * recall a dedicated run at that threshold would see.
    *
    * `rungBands` (opt-in) closes that caveat: when given (one band count
    * per threshold, aligned with the SORTED ladder), each rung runs its
    * OWN propose/verify at its band count — per-rung banding recall
    * (1−(1−J)^kᵢ), at the cost of one propose pass per rung instead of
    * one total. With every kᵢ == k the result is identical to the
    * single-pass sweep (pinned by spec); rung counts are then no longer
    * guaranteed monotone across DIFFERENT band counts (more bands can
    * propose a pair fewer bands missed).
    *
    * Scale (single-pass form): the pair table (already verified, sparse)
    * joins a broadcast threshold ladder (a handful of rows) and reduces
    * with one aggregation; the explode-by-endpoint doubles pair rows
    * only. The per-rung form multiplies the propose cost by the rung
    * count — use it for tuning runs on samples, not corpus sweeps. */
  def thresholdSweep(df: DataFrame, idCol: String, textCol: String,
                     n: Int = 3, k: Int = 4,
                     thresholds: Seq[Double] = Seq(0.5, 0.7, 0.9),
                     rungBands: Option[Seq[Int]] = None): DataFrame = {
    require(thresholds.nonEmpty, "need at least one threshold")
    // duplicate rungs would be UNION'd into one threshold group in
    // per-rung mode and their pair counts summed — double the truth —
    // while single-pass mode reports each duplicate identically; reject
    // the ambiguity instead of picking a mode-dependent answer
    require(thresholds.distinct.length == thresholds.length,
      s"thresholds must be distinct; got $thresholds")
    require(rungBands.forall(_.length == thresholds.length),
      s"rungBands must align with thresholds: ${rungBands.map(_.length)} vs ${thresholds.length}")
    val spark = df.sparkSession
    import spark.implicits._
    val ladder = thresholds.sorted.toDF("threshold")
    val counts = rungBands match {
      case Some(ks) =>
        // dedicated propose/verify per rung — each rung carries its own
        // banding recall; pair tables are rung-bounded and sparse
        thresholds.sorted.zip(ks).map { case (t, ki) =>
          ngramJaccardViaMinhash(df, idCol, textCol, n, ki, t)
            .select(lit(t).as("threshold"),
              explode(array(col("a"), col("b"))).as("__doc"))
        }.reduce(_ unionByName _)
          .groupBy("threshold")
          .agg((count(lit(1)) / 2).cast("long").as("n_pairs"),
            countDistinct(col("__doc")).as("n_docs"))
      case None =>
        val pairs = ngramJaccardViaMinhash(df, idCol, textCol, n, k, thresholds.min)
        pairs.join(broadcast(ladder), col("jaccard") >= col("threshold"))
          .select(col("threshold"), explode(array(col("a"), col("b"))).as("__doc"))
          .groupBy("threshold")
          .agg((count(lit(1)) / 2).cast("long").as("n_pairs"),
            countDistinct(col("__doc")).as("n_docs"))
    }
    // every requested rung appears — a threshold no pair reaches reads
    // (t, 0, 0), not a silently missing row
    ladder.join(counts, Seq("threshold"), "left")
      .select(col("threshold"),
        coalesce(col("n_pairs"), lit(0L)).as("n_pairs"),
        coalesce(col("n_docs"), lit(0L)).as("n_docs"))
  }

  /** Duplicated-SPAN coverage report — the document-level signal behind
    * "remove duplicated substrings" curation: a token position counts as
    * COVERED when some n-gram window containing it occurs in at least
    * `minDf` distinct documents. Returns (idCol, n_tokens, covered_tokens,
    * coverage) per document with at least one token; a fully duplicated
    * document reads coverage 1.0, boilerplate-free text reads 0.0.
    *
    * Scale: positional shingles come NARROWLY from the codegen'd kernel
    * (posexplode of the in-order shingle array — the start index IS the
    * token position, so the per-doc window sort the old token-table form
    * paid is gone); hot grams are a distinct (doc, gram) hash aggregation
    * (one row per gram however hot); the cover pass is a shingle-keyed
    * equi-join — never all-pairs — and the position explode fans out at
    * most n rows per hot-gram occurrence.
    *
    * BUCKET-SIZE MATH (round-16 sweep): the cover pass is a LEFT-SEMI
    * join, so a hot gram with O occurrences across the corpus
    * contributes exactly O rows (each occurrence matches the 1-row hot
    * list at most once), then ≤ n·O cover positions — LINEAR however
    * hot the gram; the quadratic O² shape of a pair-proposing bucket
    * join cannot occur here, so no cap is needed. */
  def hotSpanCoverage(df: DataFrame, idCol: String, textCol: String,
                      n: Int = 5, minDf: Int = 2): DataFrame = {
    require(n >= 2 && minDf >= 2, s"need n >= 2, minDf >= 2; got n=$n minDf=$minDf")
    val nPart = df.sparkSession.sessionState.conf.numShufflePartitions
    val positional = df
      .select(col(idCol),
        posexplode(TextAnalysis.wordShingles(col(textCol), n)).as(Seq("pos", "shingle")))
      .coalesce(nPart)
    using(positional, fill = true) { sh =>
      val hot = sh.select(col(idCol), col("shingle")).distinct()
        .groupBy("shingle").agg(count(lit(1)).as("__df"))
        .where(col("__df") >= minDf).select("shingle")
      val covered = sh.join(hot, Seq("shingle"), "left_semi")
        .select(col(idCol),
          explode(sequence(col("pos"), col("pos") + (n - 1))).as("__cp"))
        .groupBy(idCol).agg(countDistinct(col("__cp")).as("__cov"))
      checkpoint(df.select(col(idCol),
          size(filter(TextAnalysis.words(col(textCol)), w => length(w) > 0))
            .cast("long").as("n_tokens"))
        .where(col("n_tokens") > 0)
        .join(covered, Seq(idCol), "left")
        .select(col(idCol), col("n_tokens"),
          coalesce(col("__cov"), lit(0L)).as("covered_tokens"),
          round(coalesce(col("__cov"), lit(0L)).cast("double") /
            col("n_tokens").cast("double"), 4).as("coverage")))
    }
  }

  /** LSH recall measured, not assumed: run the exact all-pairs Jaccard
    * ([[ngramJaccardPairs]], ground truth) and the LSH-proposed variant
    * ([[ngramJaccardViaMinhash]]) over the same (SAMPLED) corpus and
    * report pair counts + recall = |lsh ∩ exact| / |exact|. Because the
    * via-minhash path verifies exactly, its pairs are a subset of ground
    * truth (precision 1.0) and the loss is banding recall 1-(1-J)^k —
    * this report puts a number on it for the corpus at hand, the QA step
    * before trusting a banding config at 100 TB. Run on a hash-sampled
    * corpus slice: the exact arm is all shared-shingle pairs and only
    * exists at sample scale. Returns one row (n_exact, n_lsh, n_common,
    * recall). */
  def lshRecallReport(df: DataFrame, idCol: String, textCol: String,
                      n: Int = 3, k: Int = 4, minSim: Double = 0.5): DataFrame = {
    val exact = ngramJaccardPairs(df, idCol, textCol, n, minSim).select("a", "b")
    val lsh = ngramJaccardViaMinhash(df, idCol, textCol, n, k, minSim).select("a", "b")
    val common = lsh.join(exact, Seq("a", "b"), "left_semi")
    exact.agg(count(lit(1)).as("n_exact"))
      .crossJoin(lsh.agg(count(lit(1)).as("n_lsh")))
      .crossJoin(common.agg(count(lit(1)).as("n_common")))
      .select(col("n_exact"), col("n_lsh"), col("n_common"),
        round(when(col("n_exact") === 0, 1.0)
          .otherwise(col("n_common").cast("double") / col("n_exact")), 4).as("recall"))
  }

  /** Per-doc cap on the collected verify-stage shingle arrays. Chunked
    * training corpora sit far below this (a 4k-token chunk has ≲ 4k word
    * shingles); the cap exists so ONE un-chunked mega-doc cannot become a
    * fat row riding every candidate pair it appears in. */
  private[graft] val MaxVerifyShinglesPerDoc = 8192

  /** Collect each doc's distinct shingles into ONE array, capped at `cap`
    * entries. Docs over the cap keep the bottom-`cap` shingles by
    * xxhash64 order — a deterministic bottom-k (KMV-style) subset, chosen
    * consistently on both sides of a pair, so over-cap pairs degrade to a
    * sketch ESTIMATE of their overlap instead of an exact score (recall
    * note: only pairs touching an over-cap doc are affected; everything
    * under the cap stays exact, and the cap is far above any chunked
    * document). Per-row memory is thereby bounded by `cap`, not by the
    * longest document in the corpus.
    *
    * The array holds SORTED xxhash64 longs, not shingle strings. Hashing
    * before the set collapses the verify payload ~4× (8-byte
    * longs vs multi-word shingle strings riding every candidate pair) and
    * makes the per-pair intersection a primitive-typed operation instead
    * of UTF8String hashing — |A∩B| over hash sets equals the string-set
    * overlap modulo 2⁻⁶⁴ per-pair collisions (the same tolerance the
    * contamination probes already accept). */
  private[graft] def shingleSets(
      sh: DataFrame, cap: Int = MaxVerifyShinglesPerDoc): DataFrame =
    sh.groupBy("doc")
      .agg(collect_set(xxhash64(col("shingle"))).as("__hs"))
      .select(col("doc"), capShingleSet(col("__hs"), cap).as("__set"))

  /** Cap a collected array<long> of hashed shingles to `cap` entries,
    * sorted ascending either way: the bottom-`cap` by hash order is the
    * same deterministic KMV-style subset on both sides of a pair. */
  private def capShingleSet(hs: Column, cap: Int = MaxVerifyShinglesPerDoc): Column =
    slice(array_sort(hs), 1, cap) // slice clamps to the array length

  /** Shared verify stage: |A∩B| per candidate pair via each doc's COLLECTED
    * shingle-set array and a codegen'd array_intersect — two joins keyed by
    * doc id and one narrow projection. The previous exploded form
    * (candidates ⋈ shingles(a) ⋈ shingles(b) ⋈ sizes ⋈ sizes, then a pair
    * groupBy) shuffled Σ |pairs|·|shingles| rows; this moves |pairs| +
    * |docs| rows (arrays ride as payload, per-group state bounded by doc
    * length) — measured 2.5× faster on the 481k-candidate sf0.1 propose
    * set with identical output (shared-band candidates share ≥ 1 shingle,
    * and inter=0 pairs die at the threshold in both forms).
    * Each of `scores` names an overlap measure `(inter, na, nb) => score`,
    * rounded to 4 dp; `keep` filters the scored pairs.
    *
    * Per-row memory is bounded: [[shingleSets]] caps each doc's array. */
  private def verifyOverlap(sets: DataFrame, cand: DataFrame,
                            scores: Seq[(String, (Column, Column, Column) => Column)],
                            keep: Column): DataFrame =
    cand
      .join(sets.select(col("doc").as("a"), col("__set").as("__sa")), Seq("a"))
      .join(sets.select(col("doc").as("b"), col("__set").as("__sb")), Seq("b"))
      .select(col("a"), col("b"),
        size(array_intersect(col("__sa"), col("__sb"))).as("__i"),
        size(col("__sa")).as("__na"), size(col("__sb")).as("__nb"))
      // disjoint candidates yield NO row even at min = 0.0 — parity with
      // the exploded form's inner join (pinned by PipelineSpec)
      .where(col("__i") > 0)
      .select(col("a") +: col("b") +: scores.map { case (name, score) =>
        round(score(col("__i"), col("__na"), col("__nb")), 4).as(name) }: _*)
      .where(keep)

  /** Jaccard — |A∩B| / |A∪B|. */
  private val Jaccard = ("jaccard",
    (i: Column, na: Column, nb: Column) => i.cast("double") / (na + nb - i).cast("double"))

  /** MAX-containment — |A∩B| / min(|A|, |B|), the asymmetric near-dup
    * measure: 1.0 whenever one document's shingle set is a subset of the
    * other's (verbatim quotes, documents extended with boilerplate),
    * cases plain Jaccard under-scores by the size imbalance. */
  private val Containment = ("containment",
    (i: Column, na: Column, nb: Column) => i.cast("double") / least(na, nb).cast("double"))

  /** `sets` = a (doc, __set) frame — [[shingleSets]] over a shingle table,
    * or the [[perDocSigsAndSet]] frame the minhash propose already built. */
  private[pipeline] def verifyJaccard(sets: DataFrame, cand: DataFrame, minSim: Double): DataFrame =
    verifyOverlap(sets, cand, Seq(Jaccard), col("jaccard") >= minSim)

  private[pipeline] def verifyContainment(sets: DataFrame, cand: DataFrame, minContain: Double): DataFrame =
    verifyOverlap(sets, cand, Seq(Containment), col("containment") >= minContain)

  /** Containment near-dup pairs with MinHash/LSH-proposed candidates and
    * exact shingle-intersection verification — same plan shape (and the
    * same scoped persist) as [[ngramJaccardViaMinhash]], scored with max
    * containment instead of Jaccard. Note the recall caveat: banding
    * probability follows the pair's JACCARD, so a tiny document engulfed
    * by a huge one (high containment, low Jaccard) may not be proposed —
    * route such asymmetric corpora through [[containmentVerifyPairs]]
    * with candidates from a df-bounded shared-shingle join. */
  def containmentViaMinhash(df: DataFrame, idCol: String, textCol: String,
                            n: Int = 3, k: Int = 4, minContain: Double = 0.9): DataFrame =
    minhashProposeVerify(df, idCol, textCol, n, k)(verifyContainment(_, _, minContain))

  /** Exact containment restricted to an explicit candidate pair set —
    * the verify stage for candidate generators tuned to asymmetric pairs. */
  def containmentVerifyPairs(df: DataFrame, candidates: DataFrame,
                             idCol: String, textCol: String,
                             n: Int = 3, minContain: Double = 0.9): DataFrame = {
    val sh = TextAnalysis.shingleRows(df, idCol, textCol, n)
      .withColumnRenamed(idCol, "doc")
    verifyContainment(shingleSets(sh), candidates.select("a", "b"), minContain)
  }

  /** Containment pairs with DF-BOUNDED rare-shingle candidates — the
    * recall complement to [[containmentViaMinhash]]. Banding probability
    * follows the pair's JACCARD, so a tiny document engulfed by a huge one
    * (containment 1.0, Jaccard ≈ 0) is systematically missed by LSH
    * proposals; here every pair sharing at least one RARE shingle
    * (document frequency in [2, maxDf]) becomes a candidate, which finds
    * engulfed pairs whenever the contained text has any shingle rare
    * enough to be discriminative.
    *
    * Scale: the candidate join's fan-out is bounded BY CONSTRUCTION — the
    * df filter drops boilerplate grams before any pair forms (the same
    * frequency-bounding idea as [[duplicatedWindowStats]]'s shared-gram
    * table), so the hottest join key contributes at most
    * C(maxDf, 2) pairs; verification is the shared exact
    * shingle-intersection aggregation, bounded by candidates. */
  def containmentViaRareShingles(df: DataFrame, idCol: String, textCol: String,
                                 n: Int = 3, maxDf: Int = 8,
                                 minContain: Double = 0.9): DataFrame = {
    // round 12: the per-doc hashed shingle array is ROW-LOCAL (one narrow
    // corpus scan, cached), so the ONLY corpus-wide exchange left is the
    // df-bounded rare-pair groupBy over the exploded hashes; verify sets
    // are slices of the cached arrays — the former semi-join +
    // per-doc collect_set aggregation is gone. Same capped-set semantics
    // as capShingleSet (sorted ascending, MaxVerifyShinglesPerDoc cap).
    val nPart = df.sparkSession.sessionState.conf.numShufflePartitions
    val hashed = df
      .select(col(idCol).as("doc"),
        array_sort(array_distinct(transform(
          graft.functions.TextFunctions.shinglesDistinctNative(col(textCol), n),
          s => xxhash64(s)))).as("__hs"))
      .where(size(col("__hs")) > 0)
      .coalesce(nPart)
    using(hashed) { perDoc =>
      // the rare-pair checkpoint below is the cache's sole first consumer
      // (one blocking job fills it as it scans); the verify join re-reads
      // the warm cache for its two set sides
      val cand = checkpoint(rarePairsOnHashed(
          perDoc.select(col("doc"), explode(col("__hs")).as("__h")), maxDf))
      val sets = perDoc.select(col("doc"),
        slice(col("__hs"), 1, MaxVerifyShinglesPerDoc).as("__set"))
      checkpoint(verifyContainment(sets, cand, minContain))
    }
  }

  /** DF-bounded rare-shingle candidate pairs over a hashed `(doc, __h)`
    * table, in ONE corpus shuffle: group docs per shingle (collect_set is
    * df-bounded — the where clause keeps only arrays of 2..maxDf docs, so
    * no group outgrows maxDf longs) and unfold each sorted doc list into
    * its a<b pairs with a narrow transform, deduped across shingles. The
    * pre-r11 form — a df-count aggregation, a rare semi-join, and a
    * self-join — paid THREE corpus-wide passes for the same pair list. */
  private[graft] def rarePairsOnHashed(sh: DataFrame, maxDf: Int): DataFrame =
    sh.groupBy("__h")
      .agg(sort_array(collect_set(col("doc"))).as("__ds"))
      .where(size(col("__ds")) >= 2 && size(col("__ds")) <= maxDf)
      .select(explode(flatten(transform(col("__ds"), (a, i) =>
        transform(slice(col("__ds"), i + lit(2), size(col("__ds")) - i - 1),
          b => struct(a.as("a"), b.as("b")))))).as("__p"))
      .select(col("__p.a").as("a"), col("__p.b").as("b"))
      .distinct()

  /** SimHash near-duplicate pairs: the `bits`-bit signature is split into
    * `bands` equal-width chunks and documents sharing any chunk value become
    * candidates (equi-join on (band, chunk) — bucketed, never all-pairs);
    * each candidate is verified with the exact popcount Hamming distance.
    * By the pigeonhole principle recall is EXACT whenever
    * `maxHamming < bands` (fewer differing bits than bands forces at least
    * one identical chunk), so the default (64 bits, 4×16-bit bands,
    * maxHamming 3) returns precisely all pairs within distance 3.
    *
    * Chunk width sizes the buckets, and it is the whole scale story
    * (Manku, Jain & Das Sarma 2007, the production simhash paper, uses
    * 64-bit fingerprints for exactly this reason): with c-bit chunks a
    * band has 2^c buckets, so expected bucket size is N/2^c and proposed
    * pairs grow as N²/2^(c+1) PER BAND — quadratic with slope 1/2^c.
    * Measured on the 100× probe corpus (round 15): 8-bit chunks (the old
    * 32-bit default) proposed 28.7 BILLION candidate pairs; 16-bit chunks
    * propose 694 M — 41× less, and 256× shallower quadratic slope. The
    * 8-bit form was already visible at bench scale (12.4 M proposals for
    * a 21 k-doc corpus). Returns (a, b, hamming) with a < b. */
  def simhashPairs(df: DataFrame, idCol: String, textCol: String,
                   bits: Int = 64, bands: Int = 4, maxHamming: Int = 3): DataFrame = {
    require(bits % bands == 0, s"bits ($bits) must divide evenly into bands ($bands)")
    val w = bits / bands
    val mask = (1L << w) - 1
    val sigs = simhash(df, idCol, textCol, bits)
    val banded = sigs.select(col(idCol).as("doc"), col("simhash"),
      explode(array((0 until bands).map(i => struct(lit(i).as("band"),
        shiftrightunsigned(col("simhash"), i * w).bitwiseAND(mask).as("chunk"))): _*)).as("b"))
      .select(col("doc"), col("simhash"), col("b.band"), col("b.chunk"))
    val l = banded.select(col("doc").as("a"), col("simhash").as("sa"), col("band"), col("chunk"))
    val r = banded.select(col("doc").as("b"), col("simhash").as("sb"), col("band"), col("chunk"))
    l.join(r, Seq("band", "chunk"))
      .where(col("a") < col("b"))
      .select(col("a"), col("b"),
        bit_count(col("sa").bitwiseXOR(col("sb"))).cast("long").as("hamming"))
      .where(col("hamming") <= maxHamming)
      .distinct()
  }

  /** Duplicated-window statistics — the distributed core of exact-substring
    * deduplication (the "train-data appears verbatim elsewhere" signal): a
    * window is a word n-gram OCCURRENCE (not a distinct shingle), and a
    * window is duplicated when its gram appears in more than one document.
    * Returns one row per input document:
    * (id, n_windows, dup_windows, dup_frac) — documents shorter than n
    * words carry no window and score 0.
    *
    * Scale: one shingle explode feeds three aggregations. The shared-gram
    * table is a hash groupBy on the gram (map-side combined; a boilerplate
    * gram contributes ONE row however often it occurs), and the join back
    * is a semi-join whose output is bounded by the corpus window count —
    * AQE's skew-join split handles hot grams' partition imbalance. The
    * shingle table feeds all three consumers, so it is persisted scoped to
    * this call (the per-document result — one slim row per doc — is
    * materialized eagerly, then the persist is released). */
  def duplicatedWindowStats(df: DataFrame, idCol: String, textCol: String,
                            n: Int = 8): DataFrame = {
    // hash at the source (the containment-family trade): the df count and
    // the shared-gram semi-join exchange fixed-width longs instead of
    // n-word strings, 2⁻⁶⁴ collision tolerance; cached at the session
    // shuffle parallelism so a unioned input doesn't tax every stage
    val nPart = df.sparkSession.sessionState.conf.numShufflePartitions
    val windows = TextAnalysis.shingleRows(df, idCol, textCol, n)
      .select(col(idCol), xxhash64(col("shingle")).as("__h"))
      .coalesce(nPart)
    using(windows, fill = true) { win =>
      val shared = win.groupBy("__h")
        .agg(countDistinct(col(idCol)).as("__docs"))
        .where(col("__docs") > 1)
        .select("__h")
      val total = win.groupBy(idCol).agg(count(lit(1)).as("__nw"))
      val dup = win.join(shared, Seq("__h"), "left_semi")
        .groupBy(idCol).agg(count(lit(1)).as("__dup"))
      checkpoint(df.select(col(idCol))
        .join(total, Seq(idCol), "left")
        .join(dup, Seq(idCol), "left")
        .select(col(idCol),
          coalesce(col("__nw"), lit(0L)).as("n_windows"),
          coalesce(col("__dup"), lit(0L)).as("dup_windows"),
          round(coalesce(col("__dup").cast("double") / col("__nw"), lit(0.0)), 4)
            .as("dup_frac")))
    }
  }

  /** Semantic near-duplicate pairs (the SemDeDup shape): embeddings are
    * clustered with the deterministic k-means fit, and only INTRA-cluster
    * pairs are scored with the exact cosine — the cluster assignment bounds
    * the candidate set exactly the way LSH bands bound the textual paths.
    * Returns (a, b, cos) with a < b and cos >= minCos.
    *
    * Scale: the all-pairs work is quadratic only within a cluster, so k is
    * the first knob — size k to the corpus (SemDeDup runs tens of thousands
    * of clusters at web scale) and the per-cluster candidate lists stay
    * flat. But k alone cannot stop one dense region (boilerplate
    * embeddings, near-constant vectors) from collapsing into a single
    * mega-cluster whose pair join is quadratic on ONE key, so clusters
    * larger than `maxClusterSize` are deterministically sub-split: member
    * id's md5 modulo ceil(size/maxClusterSize), and pairs only form within
    * a (cid, sub) cell — the same decisive cap as
    * [[Curation.exactDupCliquePairs]]'s maxGroupSize, trading cross-cell
    * recall inside a mega-cluster for a hard per-key work bound. Clusters
    * at or under the cap get one cell (sub = 0 for every member), so the
    * guard is a no-op until it is needed. The self-join is an equi-join on
    * (cid, sub); nothing is all-pairs across clusters. Requires numeric
    * ids. */
  def semanticPairs(df: DataFrame, idCol: String, vecCol: String,
                    k: Int = 8, iters: Int = 2, minCos: Double = 0.5,
                    maxClusterSize: Int = 10000): DataFrame = {
    require(maxClusterSize > 0, s"need maxClusterSize > 0; got $maxClusterSize")
    // round 10: the assignment is a NARROW projection over the broadcast
    // fitted centroids (Clustering.assignTo) — no slim-frame checkpoint
    // and no id-keyed corpus join to carry the vectors back; the only
    // exchanges left in this operator are the k-group size tally and the
    // (cid, sub) candidate self-join itself
    val withAsg = Clustering.assignTo(df.select(col(idCol), col(vecCol)),
      idCol, vecCol, Clustering.kmeansCentroids(df, idCol, vecCol, k, iters))
    val sizes = withAsg.groupBy("cid").agg(count(lit(1)).as("__csz"))
    // one row per CLUSTER (<= k of them) — rides a broadcast join
    val nsplit = expr(s"(__csz + ${maxClusterSize - 1}) DIV $maxClusterSize")
    val sub = conv(substring(
      md5(concat(lit("sem|"), col(idCol).cast("string"))), 1, 6), 16, 10)
      .cast("long") % nsplit
    val withC = withAsg
      .join(broadcast(sizes), Seq("cid"))
      .select(col(idCol), col(vecCol), col("cid"), sub.as("__sub"))
    val l = withC.select(col("cid"), col("__sub"),
      col(idCol).as("a"), col(vecCol).as("va"))
    val r = withC.select(col("cid"), col("__sub"),
      col(idCol).as("b"), col(vecCol).as("vb"))
    l.join(r, Seq("cid", "__sub"))
      .where(col("a") < col("b"))
      .select(col("a"), col("b"),
        round(Similarity.cosine(col("va"), col("vb")), 4).as("cos"))
      .where(col("cos") >= minCos)
  }

  /** Cross-source duplication matrix — which sources copy from which: for
    * every (source_a, source_b) pair, the number of EXACT duplicate pairs
    * with one member in each (diagonal rows count within-source pairs).
    * The counts are computed from per-(group, source) tallies — Σ over
    * content groups of cₐ·c_b (resp. C(c,2) on the diagonal) — so a
    * million-copy boilerplate group contributes ONE row per source to the
    * join, never an enumerated pair list: the same O(n)-not-O(n²) reasoning
    * as [[graft.pipeline.Curation.exactDupStarPairs]], as a report.
    * Returns (source_a, source_b, dup_pairs) with source_a <= source_b. */
  def crossSourceDupMatrix(df: DataFrame, idCol: String, textCol: String,
                           srcCol: String): DataFrame = {
    val per = df.select(md5(col(textCol)).as("__h"), col(srcCol).as("__src"))
      .groupBy("__h", "__src").agg(count(lit(1)).as("__c"))
    val l = per.select(col("__h"), col("__src").as("source_a"), col("__c").as("__ca"))
    val r = per.select(col("__h"), col("__src").as("source_b"), col("__c").as("__cb"))
    val cross = l.join(r, Seq("__h"))
      .where(col("source_a") < col("source_b"))
      .groupBy("source_a", "source_b")
      .agg(sum(col("__ca") * col("__cb")).as("dup_pairs"))
    val diag = per.where(col("__c") > 1)
      .groupBy("__src")
      .agg(sum(expr("__c * (__c - 1) DIV 2")).as("dup_pairs"))
      .select(col("__src").as("source_a"), col("__src").as("source_b"), col("dup_pairs"))
    cross.unionByName(diag).where(col("dup_pairs") > 0)
  }

  /** Embedding-cosine near-duplicate pairs among a bounded candidate set
    * (for unbounded inputs route through LSH buckets first —
    * [[Similarity.cosineBuckets]]). Returns (a, b, cos) with a < b. */
  def embeddingCosinePairs(df: DataFrame, idCol: String, vecCol: String,
                           minCos: Double): DataFrame = {
    val l = df.select(col(idCol).as("a"), col(vecCol).as("va"))
    val r = df.select(col(idCol).as("b"), col(vecCol).as("vb"))
    l.join(r, col("a") < col("b"))
      .select(col("a"), col("b"),
        round(Similarity.cosine(col("va"), col("vb")), 4).as("cos"))
      .where(col("cos") >= minCos)
  }

  /** Per-document CROSS-corpus duplicated-paragraph ratios — the
    * CCNet/RefinedWeb boilerplate signal that [[graft.pipeline.TextAnalysis.repetitionTable]]'s
    * WITHIN-document fractions cannot see: for each document, the share
    * of its paragraphs (and of its paragraph bytes) whose content appears
    * in at least one OTHER document. High values mark navigation chrome,
    * license footers, and syndicated copy; curation thresholds on them
    * before (or instead of) hard paragraph removal.
    *
    * Scale: one narrow explode; the per-paragraph distinct-document tally
    * keys on xxhash64(paragraph) (8-byte shuffle key, map-side partial
    * distinct) and joins back on the same hash; the per-document rollup
    * is one map-side-combined aggregation. Byte fractions use
    * octet_length (engine-exact; char counting diverges on
    * supplementary-plane text). Returns (idCol, n_paras, dup_para_frac,
    * dup_char_frac), 4 dp. */
  def dupParagraphReport(df: DataFrame, idCol: String, textCol: String,
                         sep: String = "\n"): DataFrame = {
    val sepRe = java.util.regex.Pattern.quote(sep)
    val paras = df
      .select(col(idCol), explode(split(col(textCol), sepRe)).as("__para"))
      .select(col(idCol), xxhash64(col("__para")).as("__ph"),
        octet_length(col("__para")).cast("long").as("__len"))
    val grp = paras.groupBy("__ph")
      .agg(countDistinct(col(idCol)).as("__ndocs"))
    paras.join(grp, Seq("__ph"))
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_paras"),
        round(sum(when(col("__ndocs") > 1, 1L).otherwise(0L)).cast("double") /
          count(lit(1)), 4).as("dup_para_frac"),
        round(coalesce(
          sum(when(col("__ndocs") > 1, col("__len")).otherwise(0L)).cast("double") /
            when(sum("__len") > 0, sum("__len")), lit(0.0)), 4).as("dup_char_frac"))
  }

  /** Paragraph-granularity exact dedup — the C4/RefinedWeb/Dolma cleaning
    * step document-level dedup misses: boilerplate paragraphs repeated
    * across documents (headers, license blocks, navigation) are removed
    * CORPUS-WIDE, keeping only the globally first occurrence (min (doc,
    * position)), and each document is reassembled from its survivors in
    * original order. Documents whose every paragraph was seen earlier
    * disappear entirely (they contribute nothing new). Returns
    * (idCol, text, n_kept, n_dropped).
    *
    * Scale: the keep-first winner is a hash-keyed `groupBy(xxhash64(para))`
    * aggregate, NOT a content-keyed window — partial aggregation combines
    * hot paragraphs (empty lines, boilerplate headers: exactly the skewed
    * keys of a web corpus) map-side, so the hottest key contributes one
    * partial row per map partition, never one reducer-side row per
    * occurrence. The winner row CARRIES the paragraph text and the winner
    * doc's paragraph count through the aggregation (all group members
    * share the para; `__n` is determined by the winning id), so there is
    * NO join back — two exchanges total: the hash-keyed winner agg and the
    * doc-keyed ordered reassembly (per-group state bounded by document
    * length). The explode is narrow. xxhash64 collisions merge distinct
    * paragraphs with probability ~n²/2⁶⁵ — the standard
    * exact-dedup-by-hash trade at corpus scale.
    *
    * `sep` is treated as a LITERAL separator (regex-quoted for the split),
    * matching its literal use in the reassembly concat_ws. */
  def paragraphDedup(df: DataFrame, idCol: String, textCol: String,
                     sep: String = "\n"): DataFrame = {
    val sepRe = java.util.regex.Pattern.quote(sep)
    // The split array MUST be materialized in its own projection below the
    // Generate: putting size(split(text)) alongside posexplode(split(text))
    // in one select plans the size() into the projection ABOVE the
    // generator, where it re-splits the full document once per EXPLODED
    // row — O(paragraphs × doclen) per document, measured 50× on composite
    // docs. Two selects keep split() evaluated exactly once per document
    // (CollapseProject declines to merge: the alias is referenced twice).
    val paras = df
      .select(col(idCol), split(col(textCol), sepRe).as("__arr"))
      .select(col(idCol), size(col("__arr")).cast("long").as("__n"),
        posexplode(col("__arr")).as(Seq("__pos", "__para")))
    val kept = paras
      .groupBy(xxhash64(col("__para")).as("__ph"))
      .agg(min(struct(col(idCol).as("i"), col("__pos").as("p"),
          col("__n").as("n"))).as("__keep"),
        min(col("__para")).as("__para"))
      .select(col("__keep.i").as(idCol), col("__keep.p").as("__pos"),
        col("__keep.n").as("__n"), col("__para"))
    kept.groupBy(col(idCol), col("__n"))
      .agg(count(lit(1)).as("n_kept"),
        concat_ws(sep, array_sort(collect_list(struct(col("__pos"), col("__para"))))
          .getField("__para")).as("text"))
      .select(col(idCol), col("text"), col("n_kept"),
        (col("__n") - col("n_kept")).as("n_dropped"))
  }
}

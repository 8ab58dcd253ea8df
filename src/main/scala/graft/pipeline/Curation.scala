package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.Materialize.{checkpoint, using}

/** Corpus-curation operators for training-data pipelines: survivor
  * selection, duplicate clustering, deterministic sampling/splits,
  * pattern redaction, vocabulary statistics.
  *
  * Determinism rule: every sampling/split decision hashes the record id
  * with md5 and compares hex prefixes — portable across engines (the DuckDB
  * oracle reproduces it exactly) and stable across runs/partitionings.
  */
object Curation {

  /** Deduplicated corpus: one survivor (minimum id) per exact content
    * group. One hash-groupBy + one equi-join — no all-pairs work. */
  def dedupExactKeepFirst(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val keep = df.groupBy(md5(col(textCol)).as("__h"))
      .agg(min(col(idCol)).as(idCol))
      .select(idCol)
    df.join(keep, Seq(idCol), "left_semi")
  }

  /** Exact-duplicate star edges: for every content group with more than
    * one member, emit (a = group-minimum id, b = other member). Connected
    * components over these edges yields exactly the same clusters as the
    * full clique pair list — content groups are disjoint, so the star
    * already connects every member to the minimum — at O(n) edges per
    * group instead of O(n²). The 100 TB shape: one hash groupBy plus one
    * equi-join; no collect_list, no per-group array on any reducer, so a
    * boilerplate group with millions of copies emits millions of edges,
    * not trillions of pairs. */
  def exactDupStarPairs(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val hashed = df.select(md5(col(textCol)).as("__h"), col(idCol).cast("long").as("__id"))
    val mins = hashed.groupBy("__h")
      .agg(min(col("__id")).as("a"), count(lit(1)).as("__n"))
      .where(col("__n") > 1)
      .select("__h", "a")
    hashed.join(mins, Seq("__h"))
      .where(col("__id") =!= col("a"))
      .select(col("a"), col("__id").as("b"))
  }

  /** Full clique pair expansion (a < b) of exact-duplicate groups, for
    * consumers that need every intra-group pair (e.g. triangle counting).
    * Inherently O(n²) per group, so groups larger than `maxGroupSize` are
    * dropped — and the bound is enforced BEFORE any array is built: group
    * sizes are counted first and only qualifying groups reach the
    * collect_list, so no reducer ever materializes an unbounded per-group
    * array. For clustering use [[exactDupStarPairs]] instead. */
  def exactDupCliquePairs(df: DataFrame, idCol: String, textCol: String,
                          maxGroupSize: Int = 256): DataFrame = {
    require(maxGroupSize >= 2, s"need maxGroupSize >= 2; got $maxGroupSize")
    val hashed = df.select(md5(col(textCol)).as("__h"), col(idCol).cast("long").as("__id"))
    val small = hashed.groupBy("__h").agg(count(lit(1)).as("__n"))
      .where(col("__n") > 1 && col("__n") <= maxGroupSize)
      .select("__h")
    hashed.join(small, Seq("__h"))
      .groupBy("__h").agg(collect_list(col("__id")).as("ids"))
      .select(explode(col("ids")).as("a"), col("ids"))
      .select(col("a"), explode(col("ids")).as("b"))
      .where(col("a") < col("b"))
  }

  /** End-to-end NEAR-duplicate curation, the composed 100 TB dedup
    * pipeline: MinHash/LSH proposes candidate pairs (bucket equi-join,
    * never all-pairs), exact n-gram Jaccard verifies them, connected
    * components clusters the verified pairs, and one survivor — the
    * minimum numeric id — is kept per cluster. Documents in no near-dup
    * pair pass through untouched. Every stage is the scale-shaped variant:
    * candidates are banding-bounded, verification is candidate-bounded,
    * and the cc edge list is the verified pair list itself (already sparse).
    * Requires numeric ids (cc runs on long vertex ids). */
  def dedupNearKeepFirst(df: DataFrame, idCol: String, textCol: String,
                         n: Int = 3, k: Int = 4, minSim: Double = 0.5): DataFrame =
    // DataFrame-native cc keeps the flagship dedup pipeline RDD-free
    keepClusterMin(df, idCol, ConnectedComponents.labels(
      Dedup.ngramJaccardViaMinhash(df, idCol, textCol, n, k, minSim).select("a", "b")))

  /** End-to-end SEMANTIC dedup (the SemDeDup pipeline): deterministic
    * k-means bounds the candidate set to intra-cluster pairs, exact cosine
    * verifies them, connected components clusters the verified pairs, and
    * the minimum-id member survives per cluster. Rows in no semantic pair
    * pass through untouched. Same composition as [[dedupNearKeepFirst]]
    * with the embedding space replacing the shingle space; requires
    * numeric ids (cc runs on long vertex ids). */
  def dedupSemanticKeepFirst(df: DataFrame, idCol: String, vecCol: String,
                             k: Int = 8, iters: Int = 2, minCos: Double = 0.5,
                             maxClusterSize: Int = 10000): DataFrame =
    keepClusterMin(df, idCol, ConnectedComponents.labels(
      Dedup.semanticPairs(df, idCol, vecCol, k, iters, minCos, maxClusterSize).select("a", "b")))

  /** The rows of `df` that survive their duplicate cluster: `labels` is a
    * (id, cluster) component frame whose label is the minimum member id
    * ([[ConnectedComponents.labels]]), so every member other than the
    * label drops. Rows in no cluster pass through. Requires numeric ids. */
  private def keepClusterMin(df: DataFrame, idCol: String, labels: DataFrame): DataFrame = {
    val drop = labels.where(col("id") =!= col("cluster")).select(col("id").as("__drop_id"))
    df.join(drop, df(idCol).cast("long") === col("__drop_id"), "left_anti")
  }

  /** Deterministic ~(keepOf256/256) sample: keep rows whose md5 bucket of
    * the seeded id is below the threshold. */
  def sampleByHash(df: DataFrame, idCol: String, keepOf256: Int, seed: String = "s"): DataFrame =
    df.where(substring(md5(concat(lit(seed + "|"), col(idCol).cast("string"))), 1, 2)
      < lit(f"$keepOf256%02x"))

  /** Weighted sample without replacement (Efraimidis–Spirakis A-ES): keep
    * the `k` rows with the largest u^(1/w) — equivalently, since ln is
    * monotone and ln(u) < 0, the largest ln(u)/w — where u is a
    * deterministic uniform from the md5 of the seeded id (first 12 hex
    * digits / 16¹²: a 48-bit integer over a power-of-two denominator, so
    * u is bit-exact in every engine) and w > 0 is the row's weight.
    * Inclusion probability rises with weight; quality- or length-weighted
    * corpus sampling in one pass.
    *
    * Determinism: u is exact; ln(u)/w inherits at most a libm last-ulp
    * wobble, which only matters if two distinct rows' keys collide to
    * within one ulp AND straddle the k-boundary; ties break by id.
    * Scale: global top-k = TakeOrdered (per-partition heaps + a k-row
    * driver merge), never a full sort. */
  def weightedSample(df: DataFrame, idCol: String, weightCol: String, k: Int,
                     seed: String = "wsample"): DataFrame = {
    require(k > 0, s"need k > 0; got $k")
    val u = conv(substring(md5(concat(lit(seed + "|"), col(idCol).cast("string"))), 1, 12),
      16, 10).cast("double") / lit(281474976710656.0) // 16^12
    df.withColumn("__wkey", log(u) / col(weightCol).cast("double"))
      .orderBy(desc("__wkey"), col(idCol).asc)
      .limit(k)
      .drop("__wkey")
  }

  /** Deterministic train/val/test split label: test = first testOf256
    * buckets, val = next valOf256, train = the rest. */
  def splitLabel(df: DataFrame, idCol: String,
                 testOf256: Int = 13, valOf256: Int = 13, seed: String = "split"): DataFrame = {
    val b = substring(md5(concat(lit(seed + "|"), col(idCol).cast("string"))), 1, 2)
    df.withColumn("split",
      when(b < lit(f"$testOf256%02x"), "test")
        .when(b < lit(f"${testOf256 + valOf256}%02x"), "val")
        .otherwise("train"))
  }

  /** Leakage-safe train/val/test split: every document in the same
    * duplicate cluster lands in the same split, so a near-duplicate of a
    * training document can never leak into val/test (the contamination
    * mode a plain per-id hash split — [[splitLabel]] — cannot prevent:
    * planted copies hash independently and straddle the boundary).
    * `pairs` is any verified duplicate-pair frame (a, b: long) — exact,
    * MinHash-verified, semantic; the split key is the cluster's minimum
    * member id from DataFrame-native connected components, and documents
    * in no pair key on their own id, so they get EXACTLY the
    * [[splitLabel]] assignment (same seed, same buckets — the two splits
    * agree everywhere except where agreement would leak).
    *
    * Scale: cc runs over the duplicate-pair graph (sparse — bounded by
    * the dedup propose/verify output, not the corpus); the label frame is
    * one row per clustered doc, typically ≪ corpus, so AQE broadcasts the
    * join-back; the hash rule is a row-local projection. */
  def leakageSafeSplit(df: DataFrame, idCol: String, pairs: DataFrame,
                       testOf256: Int = 13, valOf256: Int = 13,
                       seed: String = "split"): DataFrame =
    leakageSafeSplitFromLabels(df, idCol, ConnectedComponents.labels(pairs),
      testOf256, valOf256, seed)

  /** [[leakageSafeSplit]] over an already-computed cluster-label frame
    * (id, cluster) — the form pipelines use when cc labels are shared with
    * other dedup consumers (cluster reports, keep-first dedup). */
  def leakageSafeSplitFromLabels(df: DataFrame, idCol: String, labels: DataFrame,
                                 testOf256: Int = 13, valOf256: Int = 13,
                                 seed: String = "split"): DataFrame = {
    val lbl = labels
      .select(col("id").as("__lid"), col("cluster").as("__cluster"))
    val root = coalesce(col("__cluster"), col(idCol).cast("long"))
    val b = substring(md5(concat(lit(seed + "|"), root.cast("string"))), 1, 2)
    df.join(lbl, df(idCol).cast("long") === col("__lid"), "left")
      .withColumn("split",
        when(b < lit(f"$testOf256%02x"), "test")
          .when(b < lit(f"${testOf256 + valOf256}%02x"), "val")
          .otherwise("train"))
      .drop("__lid", "__cluster")
  }

  /** DSIR data selection (Xie et al. 2023, "Data Selection for Language
    * Models via Importance Resampling"): score every RAW document by how
    * much more likely its hashed n-gram features are under a TARGET
    * distribution than under the raw distribution, and keep the top `k`.
    * Features are unigrams plus word bigrams (the paper's choice),
    * md5-hashed into `buckets` cells; both bucket LMs are add-1 smoothed
    * multinomials, and the importance weight of a document is
    * Σ_feat [ln p_target(bucket) − ln p_raw(bucket)].
    *
    * Determinism: one ln per model CELL per side, each quantized to
    * integer micro-ln units BEFORE the difference and the per-document
    * sum — exact long arithmetic end-to-end, partition-order free, and
    * the md5 bucket hash replays bit-identically in any engine.
    *
    * Scale: the feature stream is one narrow explode per document (fused
    * shingle kernel, no window); the only corpus-keyed shuffles are the
    * (tgt, bucket) count (map-side combined into ≤ 2·buckets groups) and
    * the per-document weight sum; the model is a `buckets`-row broadcast;
    * top-k is TakeOrdered (per-partition heaps), never a full sort.
    * Returns the selected (idCol, weight_micro), highest weight first,
    * doc-id tiebreak; zero-feature raw documents carry weight 0. */
  def dsirSelect(df: DataFrame, idCol: String, textCol: String,
                 isTarget: Column, k: Int, buckets: Int = 256,
                 seed: String = "dsir"): DataFrame = {
    require(k > 0, s"need k > 0; got $k")
    require(buckets >= 2 && buckets <= 65536,
      s"need 2 <= buckets <= 65536 (bucket = 4 md5 hex chars mod buckets); got $buckets")
    val fb = df.select(col(idCol), isTarget.as("__tgt"),
        explode(concat(
          array_remove(TextAnalysis.words(col(textCol)), ""),
          TextAnalysis.wordShingles(col(textCol), 2))).as("__f"))
      .select(col(idCol), col("__tgt"),
        (conv(substring(md5(concat(lit(seed + "|"), col("__f"))), 1, 4), 16, 10)
          .cast("long") % buckets).as("__b"))
    val cnt = fb.groupBy("__tgt", "__b").agg(count(lit(1)).as("__c"))
    val tot = cnt.agg(
      coalesce(sum(when(col("__tgt"), col("__c"))), lit(0L)).as("__ttot"),
      coalesce(sum(when(!col("__tgt"), col("__c"))), lit(0L)).as("__stot"))
    val model = df.sparkSession.range(buckets).select(col("id").as("__b"))
      .join(cnt.where(col("__tgt")).select(col("__b"), col("__c").as("__tc")), Seq("__b"), "left")
      .join(cnt.where(!col("__tgt")).select(col("__b"), col("__c").as("__sc")), Seq("__b"), "left")
      .crossJoin(broadcast(tot))
      .select(col("__b"),
        (floor(log((coalesce(col("__tc"), lit(0L)) + lit(1)).cast("double") /
            (col("__ttot") + lit(buckets))) * 1000000.0 + 0.5).cast("long") -
         floor(log((coalesce(col("__sc"), lit(0L)) + lit(1)).cast("double") /
            (col("__stot") + lit(buckets))) * 1000000.0 + 0.5).cast("long")).as("__dw"))
    val scored = fb.where(!col("__tgt")).join(broadcast(model), Seq("__b"))
      .groupBy(idCol).agg(sum("__dw").as("weight_micro"))
    df.where(!isTarget).select(col(idCol))
      .join(scored, Seq(idCol), "left")
      .select(col(idCol), coalesce(col("weight_micro"), lit(0L)).as("weight_micro"))
      .orderBy(desc("weight_micro"), col(idCol).asc)
      .limit(k)
  }

  /** Duplicated-span REMOVAL — the text-rewriting side of
    * [[Dedup.hotSpanCoverage]] (the "remove duplicated substrings"
    * curation step): every token position covered by some n-gram window
    * occurring in ≥ `minDf` distinct documents is dropped, and the
    * survivors are re-joined into `clean_text` (over NORMALIZED tokens —
    * the same token stream every n-gram operator here sees). Documents
    * with at least one token emit (idCol, clean_text, n_tokens,
    * n_removed); a fully boilerplate document reads clean_text = ''.
    *
    * Scale: positional shingles ride the narrow kernel (posexplode index
    * = start token, no window sort); hot grams are one hash aggregation;
    * the covered-position set is per-document bounded by the document's
    * own token count (it rides the row like the text itself does), and
    * the rewrite is a row-local indexed filter — no join after the one
    * covered-set equi-join. */
  def removeHotSpans(df: DataFrame, idCol: String, textCol: String,
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
      val cov = sh.join(hot, Seq("shingle"), "left_semi")
        .select(col(idCol),
          explode(sequence(col("pos"), col("pos") + (n - 1))).as("__cp"))
        .groupBy(idCol).agg(collect_set(col("__cp")).as("__cov"))
      val none = array().cast("array<int>")
      // words('') is [""] (size 1): filter empty tokens BEFORE the size
      // guard so an all-separator document is excluded like the oracle
      // excludes it (hotSpanCoverage applies the same length>0 filter).
      // Positions are unaffected: words() yields "" ONLY as the sole
      // element of the all-separator case, never mid-array.
      checkpoint(df.select(col(idCol),
          filter(TextAnalysis.words(col(textCol)), w => length(w) > 0).as("__w"))
        .where(size(col("__w")) > 0)
        .join(cov, Seq(idCol), "left")
        .select(col(idCol), coalesce(col("__cov"), none).as("__cov"), col("__w"))
        .select(col(idCol),
          array_join(filter(col("__w"),
            (_, i) => !array_contains(col("__cov"), i)), " ").as("clean_text"),
          size(col("__w")).cast("long").as("n_tokens"),
          size(col("__cov")).cast("long").as("n_removed")))
    }
  }

  /** Pattern redaction: emails and long digit runs replaced with typed
    * placeholder tokens (codegen'd regexp passes, linear per row). */
  def redact(text: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    regexp_replace(
      regexp_replace(text, "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>"),
      "[0-9]{6,}", "<NUM>")

  /** Population Stability Index between two corpus slices — the standard
    * distribution-shift screen (did the train slice drift from test? did
    * this week's crawl drift from last week's?): a numeric feature is
    * histogrammed into fixed-width buckets (capped at `maxBucket`), and
    * each bucket contributes (p_a − p_b)·ln(p_a/p_b) ≥ 0; Σ < 0.1 is the
    * conventional "stable" reading. Laplace-smoothed with +1 over the
    * fixed (maxBucket+1)-bucket domain so empty buckets are finite and
    * the statistic is defined for disjoint histograms.
    *
    * Contributions are exact-count-derived doubles floored to micro-units
    * (ln is correctly rounded — the PMI/Adamic-Adar portability rule), so
    * an oracle replays every row. Buckets are CLAMPED to [0, maxBucket]:
    * values below 0 land in bucket 0 (without the clamp, Spark's DIV
    * truncates toward zero while a floor-dividing engine floors, so
    * negatives would bucket differently cross-engine — and would escape
    * the documented fixed domain). All maxBucket+1 buckets are emitted,
    * including buckets empty in BOTH slices, whose smoothed terms are
    * nonzero whenever the slice totals differ — dropping them would
    * silently under-report the summed PSI. Scale: one narrow bucketing
    * projection, one map-side-combinable groupBy(bucket), a 1-row totals
    * broadcast, and a (maxBucket+1)-row domain frame — nothing
    * corpus-sized shuffles.
    * Returns (bucket, n_a, n_b, psi_contrib_micro), one row per bucket. */
  def psiReport(df: DataFrame, valueCol: String, sliceCol: String,
                aSlice: String, bSlice: String,
                bucketWidth: Long = 10, maxBucket: Long = 20): DataFrame = {
    require(bucketWidth > 0, s"need bucketWidth > 0; got $bucketWidth")
    require(maxBucket >= 0, s"need maxBucket >= 0; got $maxBucket")
    val k = maxBucket + 1
    val domain = df.sparkSession.range(0, k).select(col("id").as("bucket"))
    val counts = domain.join(
      df.where(col(sliceCol).isin(aSlice, bSlice))
        .select(greatest(least(expr(s"$valueCol DIV $bucketWidth"), lit(maxBucket)), lit(0L))
          .as("bucket"), col(sliceCol).as("__s"))
        .groupBy("bucket")
        .agg(sum(when(col("__s") === aSlice, 1L).otherwise(0L)).as("__na"),
          sum(when(col("__s") === bSlice, 1L).otherwise(0L)).as("__nb")),
      Seq("bucket"), "left")
      .select(col("bucket"), coalesce(col("__na"), lit(0L)).as("n_a"),
        coalesce(col("__nb"), lit(0L)).as("n_b"))
    val tot = counts.agg(sum("n_a").as("__ta"), sum("n_b").as("__tb"))
    val pa = (col("n_a") + 1).cast("double") / (col("__ta") + lit(k))
    val pb = (col("n_b") + 1).cast("double") / (col("__tb") + lit(k))
    counts.crossJoin(broadcast(tot))
      .select(col("bucket"), col("n_a"), col("n_b"),
        floor((pa - pb) * log(pa / pb) * 1000000.0 + 0.5).cast("long")
          .as("psi_contrib_micro"))
  }

  /** Per-source PII exposure report — the audit a corpus needs BEFORE
    * [[redact]] runs and the regression check after: per source, document
    * count, documents containing any PII, and per-class match counts for
    * emails, IPv4 literals, international phone numbers and long digit
    * runs (account-number shaped). Patterns are the portable ASCII subset
    * that Java regex and RE2 interpret identically, so an oracle counts
    * the same matches.
    *
    * Scale: counting is a narrow projection (regexp_extract_all folds
    * row-locally inside codegen), and the rollup is one
    * map-side-combinable groupBy(source) — the corpus shuffles nothing
    * but its per-source partial counts. */
  def piiReport(df: DataFrame, idCol: String, textCol: String,
                sourceCol: String): DataFrame = {
    def matches(pattern: String) =
      size(regexp_extract_all(col(textCol), lit(pattern), lit(0)))
    val e = matches("[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}")
    val ip = matches("\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b")
    val ph = matches("\\+[0-9][0-9 \\-]{6,}[0-9]")
    val num = matches("[0-9]{9,}")
    df.select(col(sourceCol).as("source"),
        e.as("__e"), ip.as("__ip"), ph.as("__ph"), num.as("__n"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("__e") + col("__ip") + col("__ph") + col("__n") > 0, 1L)
          .otherwise(0L)).as("docs_with_pii"),
        sum("__e").cast("long").as("n_emails"),
        sum("__ip").cast("long").as("n_ipv4"),
        sum("__ph").cast("long").as("n_phones"),
        sum("__n").cast("long").as("n_longnums"))
  }

  /** Corpus vocabulary: per token, document frequency and term frequency
    * (one explode + one aggregation, map-side combined). */
  def vocabulary(df: DataFrame, idCol: String, textCol: String): DataFrame =
    TextAnalysis.tokenRows(df, idCol, textCol)
      .where(col("word") =!= "")
      .groupBy("word")
      .agg(countDistinct(col(idCol)).as("doc_freq"), count(lit(1)).as("term_freq"))

  /** Per-document out-of-vocabulary rate against the corpus's own top
    * `vocabSize` terms (term frequency desc, word asc tiebreak) — the
    * tokenizer-budget QA signal: documents whose tokens fall outside a
    * planned vocab inflate sequence lengths and training cost. Returns
    * (idCol, n_tokens, n_oov, oov_rate) for every document, zero-token
    * documents reporting rate 0.
    *
    * Scale: the vocab selection is a TakeOrdered over the (bounded)
    * aggregated vocabulary — per-partition heaps, a vocabSize-row driver
    * merge, broadcast back; the per-document tally is one
    * map-side-combinable aggregation over the token rows. */
  def oovReport(df: DataFrame, idCol: String, textCol: String,
                vocabSize: Int = 500): DataFrame = {
    require(vocabSize > 0, s"need vocabSize > 0; got $vocabSize")
    val vocab = vocabulary(df, idCol, textCol)
      .orderBy(desc("term_freq"), asc("word"))
      .limit(vocabSize)
      .select(col("word"), lit(1).as("__in"))
    val toks = TextAnalysis.tokenRows(df, idCol, textCol)
      .where(col("word") =!= "")
      .join(broadcast(vocab), Seq("word"), "left")
    val per = toks.groupBy(idCol).agg(
      count(lit(1)).as("n_tokens"),
      sum(when(col("__in").isNull, 1L).otherwise(0L)).as("n_oov"))
    df.select(col(idCol))
      .join(per, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        coalesce(col("n_oov"), lit(0L)).as("n_oov"),
        round(coalesce(col("n_oov").cast("double") / col("n_tokens"), lit(0.0)), 4)
          .as("oov_rate"))
  }


  /** Per-stratum quota sampling: within each stratum keep the `quota` rows
    * that rank first by the md5 hash of their seeded id — a deterministic
    * uniform draw per stratum (corpus balancing: equal documents per
    * language/source regardless of the strata's raw sizes).
    *
    * Scale design: ranking a 100 TB stratum just to keep its first 30 rows
    * would sort everything, so selection is two-phase. Phase 1 prefilters
    * on a per-stratum hash cutoff sized to pass ~`overshoot`×quota rows
    * (cutoffs ride a broadcast join — no shuffle of the corpus); phase 2
    * ranks only the survivors. The result is identical to ranking the full
    * stratum whenever at least `quota` rows survive phase 1 — guaranteed
    * for strata with ≤ overshoot×quota rows (the cutoff keeps everything)
    * and overwhelmingly likely otherwise (survivor count is
    * Binomial(n, overshoot·quota/n); at the default overshoot=4 the
    * shortfall probability is e^{-quota} territory). Both phases are pure
    * md5/integer/IEEE arithmetic, so an oracle replays them exactly. */
  def stratifiedSample(df: DataFrame, idCol: String, stratumCol: String,
                       quota: Int, seed: String = "strat", overshoot: Int = 4): DataFrame = {
    require(quota > 0 && overshoot >= 1, s"need quota > 0, overshoot >= 1; got $quota/$overshoot")
    val h = md5(concat(lit(seed + "|"), col(idCol).cast("string")))
    // additive floor: at tiny quotas a pure multiple under-survives with
    // probability ~e^-(overshoot*quota) per stratum (Binomial tail); the
    // +64 floor pushes that below e^-40 for every quota, so the documented
    // full-rank equivalence holds for all practical strata
    val target = math.max(overshoot.toLong * quota, quota + 64L)
    // 6-hex-digit cutoff ~ 16^6 * target/n (only consulted when n > target,
    // so the value fits 6 digits; ceil keeps it ≥ 1)
    val cuts = df.groupBy(stratumCol).agg(count(lit(1)).as("__cnt"))
      .select(col(stratumCol), col("__cnt"),
        lower(lpad(hex(ceil(lit(16777216.0) * target / col("__cnt")).cast("long")), 6, "0"))
          .as("__cut"))
    val survivors = df.join(broadcast(cuts), Seq(stratumCol))
      .where(col("__cnt") <= target || substring(h, 1, 6) < col("__cut"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(stratumCol).orderBy(h.asc, col(idCol).asc)
    survivors.withColumn("__rn", row_number().over(w))
      .where(col("__rn") <= quota)
      .drop("__cnt", "__cut", "__rn")
  }

  /** Temperature-weighted corpus mix (the multilingual/domain-rebalancing
    * sampler): stratum s receives quota ⌊total · w_s / Σw⌋ where
    * w_s = √n_s — the α = 0.5 temperature exponent that upweights small
    * domains relative to proportional sampling. α is fixed at 0.5
    * DELIBERATELY: IEEE sqrt is correctly rounded in every engine, while
    * pow(x, α) is libm-dependent in its last ulp — a general exponent
    * could flip a quota by one between engines. Weights are quantized to
    * integer micro-units (⌊√n_s · 10⁶⌋) so the weight total and the quota
    * division are exact integer arithmetic end-to-end.
    *
    * Selection within a stratum is the same deterministic two-phase
    * hash-rank as [[stratifiedSample]] (broadcast per-stratum cutoff
    * prefilter sized to ~overshoot×quota survivors, exact rank over
    * survivors only), with the per-stratum quota riding the same broadcast.
    * Strata whose floor allocation is 0 contribute no rows; Σ quotas ≤
    * total by construction. */
  def temperatureSample(df: DataFrame, idCol: String, stratumCol: String,
                        total: Long, seed: String = "temp", overshoot: Int = 4): DataFrame = {
    require(total > 0 && overshoot >= 1, s"need total > 0, overshoot >= 1; got $total/$overshoot")
    val h = md5(concat(lit(seed + "|"), col(idCol).cast("string")))
    val weights = df.groupBy(stratumCol).agg(count(lit(1)).as("__cnt"))
      .select(col(stratumCol), col("__cnt"),
        floor(sqrt(col("__cnt").cast("double")) * 1000000.0).cast("long").as("__w"))
    val totalW = weights.agg(sum(col("__w")).as("__tw"))
    val quotas = weights.crossJoin(broadcast(totalW))
      .select(col(stratumCol), col("__cnt"),
        expr(s"(${total}L * __w) DIV __tw").as("__quota"))
    val cuts = quotas
      .withColumn("__target", greatest(col("__quota") * overshoot, col("__quota") + 64L))
      .select(col(stratumCol), col("__cnt"), col("__quota"), col("__target"),
        lower(lpad(hex(ceil(lit(16777216.0) * col("__target") / col("__cnt")).cast("long")), 6, "0"))
          .as("__cut"))
    val survivors = df.join(broadcast(cuts), Seq(stratumCol))
      .where(col("__cnt") <= col("__target") || substring(h, 1, 6) < col("__cut"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(stratumCol).orderBy(h.asc, col(idCol).asc)
    survivors.withColumn("__rn", row_number().over(w))
      .where(col("__rn") <= col("__quota"))
      .drop("__cnt", "__quota", "__target", "__cut", "__rn")
  }

  /** Deterministic epoch shuffle — the per-epoch reshuffling that
    * pretraining shard writers need: every epoch presents a different but
    * fully reproducible permutation (no RNG state, no collected
    * permutation table), so a resumed or re-run job regenerates byte-equal
    * shards. Each document's shard and within-shard position come from
    * md5(epoch|id): shard = first 24 hash bits mod `nShards`, order = the
    * full hash (ties by id). Different epochs give uncorrelated
    * assignments; the same epoch always gives the same one.
    *
    * Scale: one hash-keyed exchange; the within-shard ordering windows
    * over shard-sized partitions — pick nShards well above the executor
    * count and each shard sorts locally (the same contract as
    * [[packSequences]]'s per-shard chains). Returns (idCol, shard, ord)
    * with ord the 1-based position inside the shard. */
  def epochShuffle(df: DataFrame, idCol: String, epoch: Int,
                   nShards: Int): DataFrame = {
    require(nShards >= 1, s"need nShards >= 1; got $nShards")
    val h = md5(concat_ws("|", lit("epoch"), lit(epoch.toString),
      col(idCol).cast("string")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("shard").orderBy(col("__h"), col(idCol))
    df.select(col(idCol), h.as("__h"),
        (conv(substring(h, 1, 6), 16, 10).cast("long") % nShards).as("shard"))
      .withColumn("ord", row_number().over(w).cast("long"))
      .drop("__h")
  }

  /** Greedy sequence packing ("concat and chop", the standard LLM
    * pretraining batch layout): within each shard, documents are laid
    * end-to-end in id order and cut into fixed token-budget chunks; a
    * document belongs to the chunk where its first token lands, at
    * `offset` tokens into that chunk.
    *
    * Scale design: packing is inherently sequential, so a single global
    * chain would serialize the corpus through one partition. Sharding
    * first (any stable key — split label, path hash, id mod N) gives one
    * independent chain per shard, each a per-shard window over one shuffle;
    * 100 TB packs as thousands of parallel chains. Chunk ids are
    * (shard, chunk) pairs, unique without cross-shard coordination. */
  def packSequences(df: DataFrame, idCol: String, tokensCol: String,
                    shardCol: String, budget: Long): DataFrame = {
    require(budget > 0, s"need budget > 0; got $budget")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(shardCol).orderBy(idCol)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    df.withColumn("__start", sum(col(tokensCol)).over(w) - col(tokensCol))
      .select(col(idCol), col(shardCol).as("shard"),
        expr(s"__start DIV ${budget}L").as("chunk"),
        expr(s"__start % ${budget}L").as("offset"))
  }

  /** Best-fit-decreasing WHOLE-DOCUMENT bin packing — the higher-quality
    * sibling of [[packSequences]]: documents are never split across
    * sequence boundaries (no mid-document truncation, no cross-document
    * attention inside a chunk); instead each document is placed whole into
    * the fullest bin of capacity `budget` that still fits it, documents
    * considered largest-first (classic BFD — within 11/9·OPT+1 bins).
    * `decreasing = false` keeps id (arrival) order instead — the
    * streaming-append baseline the fill-ratio comparison measures BFD
    * against. A document longer than `budget` occupies a bin of its own
    * at offset 0 (flagged by offset + n_tokens > budget downstream).
    *
    * Scale design: like [[packSequences]], packing is inherently
    * sequential, so the corpus is sharded first and each shard packs
    * independently — one `flatMapGroups` pass whose per-group state is a
    * TreeSet of (remaining, bin) keyed for the best-fit ceiling lookup
    * (O(n log n) per shard). Shard size is the memory contract: pick
    * nShards so a shard's (id, n) pairs fit an executor — 100 TB packs
    * as thousands of parallel chains, bin ids unique per (shard, bin).
    * Deterministic: total order (n desc, id) and ceiling ties to the
    * smallest bin id; the DuckDB oracle replays the exact placement loop
    * as a recursive CTE. Returns (idCol, shard, bin, offset). */
  def packBinsBfd(df: DataFrame, idCol: String, tokensCol: String,
                  shardCol: String, budget: Long,
                  decreasing: Boolean = true): DataFrame = {
    require(budget > 0, s"need budget > 0; got $budget")
    val spark = df.sparkSession
    import spark.implicits._
    val ds = df.select(col(shardCol).cast("long").as("_1"),
        col(idCol).cast("long").as("_2"),
        col(tokensCol).cast("long").as("_3"))
      .as[(Long, Long, Long)]
    ds.groupByKey(_._1)
      .flatMapGroups { (shard: Long, it: Iterator[(Long, Long, Long)]) =>
        val items = it.map(t => (t._2, t._3)).toArray
        val ordered =
          if (decreasing) items.sortBy { case (id, n) => (-n, id) }
          else items.sortBy(_._1)
        // (remaining, binId): minAfter((n, MinValue)) = the fullest bin
        // that still fits n, ties to the smallest bin id
        val bins = scala.collection.mutable.TreeSet.empty[(Long, Long)]
        var nBins = 0L
        ordered.iterator.map { case (id, n) =>
          bins.minAfter((n, Long.MinValue)) match {
            case Some(k @ (rem, b)) =>
              bins.remove(k)
              if (rem - n > 0) bins.add((rem - n, b))
              (id, shard, b, budget - rem)
            case None =>
              val b = nBins; nBins += 1
              if (budget - n > 0) bins.add((budget - n, b))
              (id, shard, b, 0L)
          }
        }
      }
      .toDF(idCol, "shard", "bin", "offset")
  }

  /** Benchmark decontamination: corpus documents that share NO word n-gram
    * with the benchmark/eval set (the standard guard against train-test
    * leakage in LLM training pipelines — documents containing any
    * benchmark n-gram are dropped entirely).
    *
    * Scale design: benchmark suites are tiny relative to a training corpus,
    * so the distinct benchmark gram set is `broadcast` to every executor
    * and corpus grams probe it map-side (left-semi) — the corpus text is
    * shuffled only once, by document id, to assemble its shingles; no
    * shuffle is keyed on the gram itself, so boilerplate grams cannot skew
    * a partition. Documents with fewer than n words carry no n-gram and
    * always survive. */
  def decontaminate(corpus: DataFrame, benchmark: DataFrame,
                    idCol: String, textCol: String, n: Int = 8): DataFrame =
    corpus.join(contaminationHits(corpus, benchmark, idCol, textCol, n)
      .select(idCol), Seq(idCol), "left_anti")

  /** Contamination report behind [[decontaminate]]: per contaminated corpus
    * document, the number of DISTINCT n-grams it shares with the benchmark
    * set (docs with zero hits are absent). */
  def contaminationHits(corpus: DataFrame, benchmark: DataFrame,
                        idCol: String, textCol: String, n: Int = 8): DataFrame = {
    val benchGrams = TextAnalysis.shingleRows(benchmark, idCol, textCol, n)
      .select("shingle").distinct()
    TextAnalysis.shingleRows(corpus, idCol, textCol, n)
      .dropDuplicates(idCol, "shingle")
      .join(broadcast(benchGrams), Seq("shingle"), "left_semi")
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_hits"))
  }

  /** Partitioned corpus export + manifest — the pipeline SINK: write the
    * frame as parquet partitioned by `partitionCols` (the layout training
    * jobs consume: one directory tree per split/language/source, each
    * prunable without listing the rest), then read the tree BACK and
    * aggregate the manifest from it. Reading back is the point: the
    * manifest counts prove the partition values survived the directory
    * round-trip, not just that the write call returned. Returns
    * (partitionCols..., n_docs). */
  def exportPartitioned(df: DataFrame, path: String,
                        partitionCols: Seq[String]): DataFrame = {
    require(partitionCols.nonEmpty, "need at least one partition column")
    df.write.mode("overwrite").partitionBy(partitionCols: _*).parquet(path)
    df.sparkSession.read.parquet(path)
      .groupBy(partitionCols.map(col): _*)
      .agg(count(lit(1)).as("n_docs"))
  }

  /** Budget-constrained data selection — the mix-building primitive: per
    * `groupCol` group, documents are taken greedily in (scoreCol desc,
    * idCol asc) order while the running `tokensCol` total stays within
    * `budget` (prefix semantics: the total is monotone, so membership is
    * `cumulative ≤ budget`). The "give me the best N-million tokens per
    * language" step between quality scoring and shard export.
    *
    * Scale: the naive form is one window keyed by the (low-cardinality)
    * group — corpus/|groups| rows through single tasks. This is
    * TWO-PHASE instead: documents bucket by the quantized score
    * (floor(score·10⁴), monotone in score, ~10⁴ buckets per group), a
    * prefix sum over the tiny (group × bucket) frame finds each group's
    * boundary bucket exactly, buckets strictly inside the budget keep
    * every document via a semi-join (no ordering needed — membership is
    * bucket-level), and only the boundary bucket's documents — ties at
    * one 10⁻⁴ score step — meet a per-group ordered window for the exact
    * greedy cut. Equivalent to the naive greedy BY CONSTRUCTION: the
    * bucket is monotone in the score, so bucket-descending order refines
    * to the same (score, id) total order the window replays inside the
    * boundary. Returns the kept (groupCol, idCol, tokensCol). */
  def tokenBudgetSelect(df: DataFrame, idCol: String, tokensCol: String,
                        scoreCol: String, groupCol: String, budget: Long): DataFrame = {
    require(budget > 0, s"need budget > 0; got $budget")
    // filled: the bucket aggregate and both join-backs share it
    using(budgetBase(df, idCol, tokensCol, scoreCol, groupCol), fill = true) { base =>
      checkpoint(budgetKept(base, idCol, budget)
        .select(col("__g").as(groupCol), col(idCol), col("__tk").as(tokensCol)))
    }
  }

  /** [[tokenBudgetSelect]]'s input rows: (__g, idCol, __tk, __sc, __qb),
    * __qb the quantized score bucket. */
  private[graft] def budgetBase(df: DataFrame, idCol: String, tokensCol: String,
                                scoreCol: String, groupCol: String): DataFrame =
    df.select(col(groupCol).as("__g"), col(idCol),
        col(tokensCol).cast("long").as("__tk"), col(scoreCol).cast("double").as("__sc"))
      .withColumn("__qb", floor(col("__sc") * 10000.0).cast("long"))

  /** [[tokenBudgetSelect]]'s live body: the kept [[budgetBase]] rows —
    * whole buckets inside the budget plus the greedy cut of each group's
    * boundary bucket. */
  private[graft] def budgetKept(base: DataFrame, idCol: String, budget: Long): DataFrame = {
    val wB = org.apache.spark.sql.expressions.Window
      .partitionBy("__g").orderBy(col("__qb").desc)
    // the boundary finder has TWO consumers (whole filter + boundary
    // filter) — checkpoint the tiny (group × bucket) frame once, or the
    // prefix-sum subtree plans and runs twice
    val cum = checkpoint(base.groupBy("__g", "__qb").agg(sum("__tk").as("__bt"))
      .withColumn("__before", coalesce(sum("__bt").over(
        wB.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)),
        lit(0L))))
    val keptWhole = base.join(
      cum.where(col("__before") + col("__bt") <= budget).select("__g", "__qb"),
      Seq("__g", "__qb"), "left_semi")
    val wD = org.apache.spark.sql.expressions.Window
      .partitionBy("__g").orderBy(col("__sc").desc, col(idCol).asc)
    val keptBoundary = base.join(
        cum.where(col("__before") < budget && col("__before") + col("__bt") > budget)
          .select(col("__g"), col("__qb"), col("__before")),
        Seq("__g", "__qb"))
      .withColumn("__cum", sum("__tk").over(wD))
      .where(col("__before") + col("__cum") <= budget)
      .select(col("__g"), col(idCol), col("__tk"), col("__sc"), col("__qb"))
    keptWhole.unionByName(keptBoundary)
  }

  /** JSONL corpus sink + source — the interchange format LLM data
    * pipelines speak at their boundaries: write the frame as JSON Lines,
    * read the directory BACK under the original schema, and return the
    * read-back frame (callers aggregate it to prove the values survived
    * the text round-trip, the [[exportPartitioned]] discipline). Reading
    * with an explicit schema keeps the source single-pass at any corpus
    * size: schema inference would pay a full extra scan of every JSONL
    * file before the first real read. */
  def jsonlRoundTrip(df: DataFrame, path: String): DataFrame =
    formatRoundTrip(df, path, "json")

  /** [[jsonlRoundTrip]] generalized over Spark's file formats — the
    * sink/source matrix probe (orc, json, parquet, csv share the one
    * write-then-schema-bound-read discipline). */
  def formatRoundTrip(df: DataFrame, path: String, format: String): DataFrame = {
    // Delimited text needs explicit fidelity options the defaults lack:
    // a header row (so the files are self-describing), quote-escaping
    // with multiLine=true on read (embedded quotes AND newlines in text
    // round-trip — default multiLine=false would split mid-record), and
    // a nullValue sentinel distinct from '' (default maps both NULL and
    // empty string to the same token, coercing '' → null on read-back).
    // Scale caveat, deliberate: multiLine CSV is parsed one FILE per
    // task (records may span line boundaries, so files aren't split) —
    // parallelism comes from the file count the writer already controls,
    // which is the partition count of `df`. Self-describing formats
    // (json/orc/parquet) round-trip faithfully with defaults.
    val csvOpts: Map[String, String] =
      if (format == "csv") Map("header" -> "true", "escape" -> "\"",
        "nullValue" -> "\\N", "multiLine" -> "true")
      else Map.empty
    if (format != "csv") {
      df.write.mode("overwrite").options(csvOpts).format(format).save(path)
      df.sparkSession.read.schema(df.schema).options(csvOpts).format(format)
        .load(path)
    } else {
      // A STRING equal to the \N sentinel would be written unquoted and
      // read back as NULL (ADVICE r12) — no Spark CSV option distinguishes
      // the two, so string columns are backslash-escaped on write ('\' →
      // '\\') and unescaped after read: a literal \N lands in the file as
      // \\N ≠ sentinel, the sentinel is only ever produced by real NULLs,
      // and every other string is unchanged after the round trip. The
      // escape is a narrow codegen'd projection on both sides — no
      // exchange, no extra pass.
      val strCols = df.schema.fields
        .filter(_.dataType == org.apache.spark.sql.types.StringType).map(_.name)
      val enc = strCols.foldLeft(df)((d, c) =>
        d.withColumn(c, regexp_replace(col(c), "\\\\", "\\\\\\\\")))
      enc.write.mode("overwrite").options(csvOpts).format(format).save(path)
      val back = df.sparkSession.read.schema(df.schema).options(csvOpts)
        .format(format).load(path)
      strCols.foldLeft(back)((d, c) =>
        d.withColumn(c, regexp_replace(col(c), "\\\\\\\\", "\\\\")))
    }
  }

  /** End-to-end curation funnel report: the chained production pipeline
    * raw → exact-dedup → near-dedup → [rare-shingle containment-dedup] →
    * decontaminate, with one row of surviving-document counts per stage.
    * Each stage consumes the previous stage's survivors (near-dup
    * candidate generation and verification are pairwise-deterministic on
    * text, so survivors' pairs are exactly the full-corpus pairs
    * restricted to survivor endpoints — the property the SQL oracle
    * replays). The count aggregation per stage is one 1-row reduce; the
    * stages themselves are the operators documented elsewhere in this
    * file. Returns (stage, n_docs) with stage ∈ raw/exact_dedup/
    * near_dedup/[contain_dedup]/decontaminated.
    *
    * `rareShingleArm = true` turns on the RECALL ARM
    * [[Dedup.containmentViaRareShingles]] between near-dedup and
    * decontamination: engulfed-prefix duplicates (containment ≈ 1,
    * Jaccard ≈ 0 — the class LSH banding systematically misses) are
    * clustered by containment edges and dropped down to the min-id
    * survivor, so the production pipeline removes them instead of only
    * reporting them. */
  def curationFunnel(corpus: DataFrame, benchmark: DataFrame,
                     idCol: String, textCol: String,
                     n: Int = 3, k: Int = 4, minSim: Double = 0.5,
                     decontamN: Int = 5,
                     dupLabels: Option[DataFrame] = None,
                     rareShingleArm: Boolean = false,
                     rareMaxDf: Int = 8, minContain: Double = 0.9): DataFrame = {
    // each survivor set feeds BOTH its own count and the next stage's
    // recomputation, so scope a persist per stage: without it the s1
    // dedup replays three times and the near-dup anti-join twice (the
    // LSH/verify/cc work itself is already eager inside the cc label
    // fill). Each stage shingles its survivor set
    // directly from the persisted text with the NARROW codegen'd kernel
    // (shingleRows) — no token-table persist and no per-stage window
    // shuffle; a narrow re-scan of cached survivors is cheaper than the
    // exchanges the old tokenize-once window design required. The 4-row
    // result is checkpointed eagerly so the persists can be released
    // before returning.
    // cache the INPUT corpus eagerly before anything consumes it: callers
    // hand unions-with-transforms over raw parquet, and the exact-dedup
    // semi-join below references it on BOTH sides — left cold, AQE
    // compiles the branches concurrently and each re-scans the raw input
    // (measured: four 15-35 s corpus scans inside one funnel run at
    // sf0.1, ~45% of the whole query's task time). One eager fill makes
    // every later branch — both semi-join sides, the raw stage count —
    // a cache read. Coalesced to the session shuffle parallelism: a
    // k-way union otherwise caches at k× the partition count and every
    // downstream narrow stage pays k× the task overhead.
    val nPart = corpus.sparkSession.sessionState.conf.numShufflePartitions
    using(corpus.coalesce(nPart), fill = true) { c0 =>
      using(dedupExactKeepFirst(c0, idCol, textCol), fill = true) { s1 =>
        // ONE per-doc signature+set frame serves BOTH verify stages (round
        // 12): the near-dup propose/verify reads signatures and Jaccard sets
        // from it, and the rare-containment arm's verify reads the SAME
        // __set arrays (identical per doc) — the arm's former
        // candidate-bounded set aggregation is gone. Built with the
        // codegen'd aggregation form (measured faster than a row-local
        // higher-order-function projection — see ngramJaccardViaMinhash) and
        // only when something consumes it (internal labels or the arm); its
        // fill is one scan of the cached s1, and verify reads it on 2 sides.
        def withPerDoc(body: DataFrame => DataFrame): DataFrame =
          if (dupLabels.nonEmpty && !rareShingleArm) body(null)
          else using(Dedup.perDocSigsAndSet(
              TextAnalysis.shingleRowsDistinct(s1, idCol, textCol, n)
                .withColumnRenamed(idCol, "doc"), k), fill = true)(body)
        withPerDoc { perDoc =>
          // the near-dup stage (r7-measured 9 s of the funnel's ~15 at sf0.1)
          // accepts precomputed duplicate-cluster labels: labels over the RAW
          // corpus are drop-equivalent on exact survivors (an exact-copy node
          // has the same text as its original, so it adds no connectivity
          // among survivors and never owns a component minimum), which lets a
          // session that also runs the dup-cluster queries share ONE
          // LSH+verify+cc pass via the caller's memo
          // the verified pair list rides LAZILY into cc: labels() persists
          // the symmetrized edges and its seed aggregation is their single
          // first consumer, so the propose/verify chain runs exactly once
          // during that fill — a checkpoint here would be one extra job
          // re-scanning what the cc cache is about to hold anyway
          val labels = dupLabels.getOrElse {
            ConnectedComponents.labels(
              Dedup.verifyJaccard(perDoc, Dedup.bandedCandidates(perDoc, k), minSim)
                .select("a", "b"))
          }
          // filled: s2 feeds several branches of the ONE final checkpoint job
          // (its stage count, the decontam semi-join, the s3 anti-join, and
          // the arm when on)
          using(keepClusterMin(s1, idCol, labels), fill = true) { s2 =>
            // optional containment recall arm: cluster engulfed-prefix pairs
            // over the near-dup survivors, keep the min-id member per
            // cluster. Shingles come from the funnel-shared cached table,
            // narrowed to near-dup survivors — no second text scan
            def withArm(body: DataFrame => DataFrame): DataFrame =
              if (!rareShingleArm) body(s2) else {
                // FUSED arm (round 12): propose rare-df pairs from the shared
                // shingle cache narrowed to near-dup survivors (one shuffle),
                // then verify against the ALREADY-BUILT perDoc sets — the
                // arm's former per-call set aggregation and both its
                // checkpoints are gone. The whole propose→verify chain is
                // single-consumer (candidates feed only the verify, verified
                // pairs feed only cc) and rides lazily into cc's edge
                // persist, which materializes it exactly once.
                // (doc, __h) comes from EXPLODING the cached perDoc __set
                // arrays of the survivors — no third text scan / shingle
                // kernel / hash pass for any doc UNDER the verify cap (the
                // overwhelming majority; chunked corpora sit far below it).
                // Docs OVER the cap re-derive their FULL distinct hash
                // stream from the cached survivor text (round 13, ADVICE
                // r12): proposing from the bottom-8192 sketch silently lost
                // containment recall and undercounted shingle DF at exactly
                // the un-chunked mega-doc scale the cap guards — the
                // standalone containmentViaRareShingles always proposed over
                // all hashes, and the fused arm now matches it. The
                // re-shingle is semi-join-bounded to the capped docs, so its
                // cost is zero when no doc hits the cap.
                val candRare = Dedup.rarePairsOnHashed(
                  rareProposalHashes(perDoc, s2, idCol, textCol, n), rareMaxDf)
                val cLabels = ConnectedComponents.labels(
                  Dedup.verifyContainment(perDoc.select(col("doc"), col("__set")),
                      candRare, minContain)
                    .select("a", "b"))
                // filled — same multi-branch rationale as s2
                using(keepClusterMin(s2, idCol, cLabels), fill = true)(body)
              }
            withArm { s2b =>
              val benchGrams = TextAnalysis
                .shingleRows(benchmark, idCol, textCol, decontamN)
                .select("shingle").distinct()
              // NO (id, shingle) dedup shuffle before the probe: the bench
              // grams are broadcast and the trailing distinct() on idCol
              // collapses repeated hits anyway — deduping the full survivor
              // shingle stream first would shuffle it once for nothing
              val contaminated = TextAnalysis.shingleRows(s2b, idCol, textCol, decontamN)
                .join(broadcast(benchGrams), Seq("shingle"), "left_semi")
                .select(idCol).distinct()
              val s3 = s2b.join(contaminated, Seq(idCol), "left_anti")
              def stage(name: String, df: DataFrame) =
                df.agg(count(lit(1)).as("n_docs")).select(lit(name).as("stage"), col("n_docs"))
              val head = stage("raw", c0)
                .unionByName(stage("exact_dedup", s1))
                .unionByName(stage("near_dedup", s2))
              val tail = (if (rareShingleArm) head.unionByName(stage("contain_dedup", s2b)) else head)
                .unionByName(stage("decontaminated", s3))
              checkpoint(tail)
            }
          }
        }
      }
    }
  }

  /** The fused funnel arm's COMPLETE rare-shingle proposal stream
    * (doc, __h): exploded capped `__set` arrays for docs under the
    * verify cap (their capped set IS their full distinct hash set — no
    * re-scan), plus the full re-derived hash stream for docs OVER the
    * cap (semi-join-bounded re-shingle of the cached survivor text).
    * The union equals the full distinct (doc, hash) stream of the
    * survivors exactly — so DF counts and pair proposals match the
    * standalone [[Dedup.containmentViaRareShingles]] path (round 13,
    * ADVICE r12: the capped sketch silently lost engulfed-pair recall
    * for mega-docs). `survivors` must carry `idCol` + `textCol`;
    * `perDoc` is a [[Dedup.perDocSigsAndSet]] frame over the same or a
    * superset corpus. */
  private[pipeline] def rareProposalHashes(perDoc: DataFrame, survivors: DataFrame,
                                           idCol: String, textCol: String,
                                           n: Int): DataFrame = {
    val surv = perDoc
      .join(survivors.select(col(idCol).as("doc")), Seq("doc"), "left_semi")
    val fromSets = surv.where(!col("__capped"))
      .select(col("doc"), explode(col("__set")).as("__h"))
    val cappedIds = surv.where(col("__capped")).select(col("doc"))
    val fromText = TextAnalysis.shingleRowsDistinct(
        survivors.join(cappedIds, survivors(idCol) === cappedIds("doc"), "left_semi"),
        idCol, textCol, n)
      .select(col(idCol).as("doc"), xxhash64(col("shingle")).as("__h"))
    fromSets.unionByName(fromText)
  }

  /** Multi-benchmark contamination MATRIX — the eval-suite screening
    * report: for every benchmark in `benchmarks` (rows (benchCol, idCol,
    * textCol), several documents per benchmark), the number of corpus
    * documents sharing at least one n-gram with it and the number of
    * distinct shared grams. One corpus gram scan serves EVERY benchmark:
    * benchmark grams carry their benchmark id through a broadcast join
    * (the per-benchmark gram sets are eval-sized by definition), so
    * screening against a whole suite costs the same corpus pass as
    * screening against one. Returns (benchCol, n_docs_hit,
    * n_grams_shared). */
  def contaminationMatrix(corpus: DataFrame, benchmarks: DataFrame,
                          idCol: String, textCol: String, benchCol: String,
                          n: Int = 8): DataFrame = {
    // Shingling is a per-ROW kernel (round 10) — no window, so nothing
    // can interleave token streams across rows and the old composite
    // (benchmark, id, text-hash) window-key machinery (with its
    // separator-in-name caveat and null-sentinel round-trip) is gone:
    // each benchmark row shingles independently, keyed by benchCol
    // directly; NULL benchmark names survive as the natural null group
    // of the trailing aggregations.
    val bg = benchmarks
      .select(col(benchCol),
        explode(TextAnalysis.wordShingles(col(textCol), n)).as("shingle"))
      .distinct()
    // no corpus-side (id, shingle) dedup shuffle: the countDistinct
    // aggregations below already collapse repeated hits
    TextAnalysis.shingleRows(corpus, idCol, textCol, n)
      .join(broadcast(bg), Seq("shingle"))
      .groupBy(benchCol)
      .agg(countDistinct(col(idCol)).as("n_docs_hit"),
        countDistinct(col("shingle")).as("n_grams_shared"))
  }

  /** Length-band quality gate on EXACT percentiles: keep documents whose
    * word count lies within the corpus's [pLo, pHi] percentile band
    * (percentile = k-th smallest count with k = ⌈p·n⌉). Returns the
    * surviving (idCol, n_tokens).
    *
    * Scale: an exact global percentile normally means a total sort, which
    * is exactly what a 100 TB corpus cannot afford — so the cutoffs come
    * from the token-COUNT histogram instead: distinct word counts are
    * bounded by document length, so the cumulative window runs over a
    * tiny frame while the corpus itself is touched by one hash
    * aggregation and one broadcast-filtered scan. */
  def lengthBandFilter(df: DataFrame, idCol: String, textCol: String,
                       pLo: Double = 0.05, pHi: Double = 0.95): DataFrame = {
    require(pLo >= 0 && pHi <= 1 && pLo <= pHi, s"need 0 <= pLo <= pHi <= 1; got $pLo/$pHi")
    val wd = df.select(col(idCol),
      TextAnalysis.wordCount(col(textCol)).cast("long").as("n_tokens"))
    val hist = wd.groupBy("n_tokens").agg(count(lit(1)).as("__c"))
    val w = org.apache.spark.sql.expressions.Window.orderBy(col("n_tokens").asc)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    // materialize the tiny cumulative histogram ONCE: the corpus total is
    // its last cumulative value, so deriving cutoffs needs no second
    // corpus aggregation (corpus touched exactly twice — histogram + the
    // final filtered scan)
    val cum = checkpoint(hist.select(col("n_tokens"), sum(col("__c")).over(w).as("__cum")))
    val tot = cum.agg(max(col("__cum")).as("__n"))
    val cuts = cum.crossJoin(broadcast(tot))
      .agg(min(when(col("__cum") >= ceil(col("__n") * pLo), col("n_tokens"))).as("__lo"),
        min(when(col("__cum") >= ceil(col("__n") * pHi), col("n_tokens"))).as("__hi"))
    wd.crossJoin(broadcast(cuts))
      .where(col("n_tokens").between(col("__lo"), col("__hi")))
      .select(col(idCol), col("n_tokens"))
  }

  /** Corpus mixture report — the sampling-weights input for domain/language
    * rebalancing: per stratum combination, document and token counts plus
    * their corpus shares. Returns (strataCols..., n_docs, n_tokens,
    * doc_share, token_share).
    *
    * Scale: ONE map-side-combinable hash aggregation over the corpus
    * (token counting is a codegen'd projection feeding the partial agg)
    * plus a 1-row totals broadcast — group count is bounded by the strata
    * cardinality, so nothing skews however hot a stratum is. */
  def mixReport(df: DataFrame, textCol: String,
                strataCols: Seq[String]): DataFrame = {
    require(strataCols.nonEmpty, "need at least one stratum column")
    val g = df.groupBy(strataCols.map(col): _*)
      .agg(count(lit(1)).as("n_docs"),
        sum(TextAnalysis.wordCount(col(textCol)).cast("long")).as("n_tokens"))
    val tot = g.agg(sum("n_docs").as("__td"), sum("n_tokens").as("__tt"))
    g.crossJoin(broadcast(tot))
      .select(strataCols.map(col) ++ Seq(col("n_docs"), col("n_tokens"),
        round(col("n_docs").cast("double") / col("__td"), 6).as("doc_share"),
        round(col("n_tokens").cast("double") / col("__tt"), 6).as("token_share")): _*)
  }

  /** Context-window document chunking: split each document's token stream
    * into chunks of `chunkSize` tokens starting every `stride` tokens
    * (stride < chunkSize ⇒ overlapping chunks — the sliding training-window
    * shape). Returns (idCol, chunk_id, n_tokens, chunk_text); the final
    * chunk of a document may be shorter than `chunkSize`.
    *
    * Scale: one explode mapping each token to its covering chunk ids (at
    * most ⌈chunkSize/stride⌉ memberships per token) feeding one hash
    * aggregation keyed by (doc, chunk) whose per-group state is bounded by
    * `chunkSize` tokens. No corpus-wide window, no per-document sort
    * beyond the in-group array_sort. */
  def chunkDocuments(df: DataFrame, idCol: String, textCol: String,
                     chunkSize: Int, stride: Int): DataFrame = {
    require(chunkSize > 0 && stride > 0 && stride <= chunkSize,
      s"need 0 < stride <= chunkSize; got chunkSize=$chunkSize stride=$stride")
    // token at pos belongs to chunks c with c*stride <= pos < c*stride+chunkSize:
    // c in [ceil((pos-chunkSize+1)/stride), floor(pos/stride)], clamped at 0
    val lo = when(col("pos") < chunkSize, lit(0L))
      .otherwise(expr(s"(pos - $chunkSize + $stride) DIV $stride"))
    val hi = expr(s"pos DIV $stride")
    TextAnalysis.tokenRows(df, idCol, textCol)
      .where(length(col("word")) > 0)
      .select(col(idCol), col("pos"), col("word"),
        explode(sequence(lo, hi)).as("chunk_id"))
      .groupBy(col(idCol), col("chunk_id"))
      .agg(count(lit(1)).as("n_tokens"),
        array_join(transform(
          array_sort(collect_list(struct(col("pos"), col("word")))),
          x => x("word")), " ").as("chunk_text"))
  }

  /** SEMANTIC decontamination: drop corpus rows whose embedding lands in
    * the same hyperplane bucket as an eval-set embedding AND verifies at
    * cosine ≥ `minCos`. The eval side is eval-sized by definition, so its
    * bucketed form broadcasts and corpus rows are scanned once — no
    * corpus×eval cross join. Returns the surviving corpus ids.
    *
    * Recall caveat shared with every LSH path: a contaminated pair can
    * straddle a hyperplane; lower `planes` (coarser buckets) or union
    * several plane offsets to trade cost for recall. [[decontaminate]] is
    * the EXACT n-gram sibling for verbatim leakage. */
  def semanticDecontaminate(corpus: DataFrame, evalSet: DataFrame,
                            idCol: String, vecCol: String,
                            planes: Int = 8, minCos: Double = 0.9): DataFrame = {
    val cb = corpus.select(col(idCol), col(vecCol).as("__cv"),
      Similarity.cosineBuckets(col(vecCol), planes).as("__bucket"))
    val eb = evalSet.select(col(vecCol).as("__ev"),
      Similarity.cosineBuckets(col(vecCol), planes).as("__bucket"))
    val hit = cb.join(broadcast(eb), Seq("__bucket"))
      .where(round(Similarity.cosine(col("__cv"), col("__ev")), 4) >= minCos)
      .select(col(idCol)).distinct()
    corpus.join(hit, Seq(idCol), "left_anti").select(col(idCol))
  }

  /** [[decontaminate]] with a bloom prefilter — EXACT same result, built
    * for the regime where the benchmark gram set is too large to broadcast
    * as an exact hash relation (multi-benchmark suites, paragraph-length
    * grams). The sketch is built distributedly with Spark's native
    * `bloom_filter_agg` machinery (map-side combinable; only the ~MB
    * serialized filter reaches the driver), probes run inside whole-stage
    * codegen on the exploded corpus grams BEFORE any shuffle, and only the
    * ~fpp fraction of surviving grams pays the per-document dedup shuffle
    * and the exact verification semi-join that removes false positives.
    * The corpus-side shuffle volume drops by ~1/fpp vs [[decontaminate]];
    * no false negatives exist, so no contaminated document survives. */
  def decontaminateBloom(corpus: DataFrame, benchmark: DataFrame,
                         idCol: String, textCol: String, n: Int = 8,
                         bitsPerItem: Int = 10): DataFrame = {
    import graft.functions.BloomFunctions
    // a checkpoint, not a scoped cache: the returned frame's exact
    // verification reads the gram set lazily, after this call; the count
    // is the action that fills it
    val benchGrams = checkpoint(TextAnalysis.shingleRows(benchmark, idCol, textCol, n)
      .select("shingle").distinct(), eager = false)
    val nGrams = benchGrams.count()
    if (nGrams == 0L) corpus
    else {
      val sketch = benchGrams
        .agg(BloomFunctions.bloomAgg(col("shingle"), nGrams, bitsPerItem))
        .head.getAs[Array[Byte]](0)
      val hits = TextAnalysis.shingleRows(corpus, idCol, textCol, n)
        .where(BloomFunctions.mightContain(lit(sketch), col("shingle")))
        .dropDuplicates(idCol, "shingle")
        .join(benchGrams, Seq("shingle"), "left_semi") // exact FP removal
        .select(idCol).distinct()
      corpus.join(hits, Seq(idCol), "left_anti")
    }
  }

  /** C4-style line-level cleaning: drop lines with fewer than `minWords`
    * word tokens or containing any blacklisted phrase (case-insensitive
    * substring — the "javascript required" / "lorem ipsum" class of
    * boilerplate), reassemble each document from its surviving lines in
    * original order. Documents with zero surviving lines disappear.
    * Returns (idCol, text, n_kept, n_dropped).
    *
    * Scale: the explode + per-line predicates are narrow codegen'd
    * projections; the ONE shuffle is the document-keyed reassembly with
    * per-group state bounded by document length. Blacklist lives in the
    * plan as literals (eval-sized by definition).
    *
    * `sep` is a LITERAL separator (regex-quoted for the split), matching
    * its literal use in the reassembly concat_ws — a regex-special
    * separator like "." or "|" splits correctly. */
  def lineFilter(df: DataFrame, idCol: String, textCol: String,
                 minWords: Int = 3, blacklist: Seq[String] = Nil,
                 sep: String = "\n"): DataFrame = {
    val sepRe = java.util.regex.Pattern.quote(sep)
    // split materialized below the Generate — size(split) co-resident with
    // posexplode(split) would re-split the whole document once per exploded
    // line (O(lines × doclen) per doc; see Dedup.paragraphDedup)
    val lines = df
      .select(col(idCol), split(col(textCol), sepRe).as("__arr"))
      .select(col(idCol), size(col("__arr")).cast("long").as("__n"),
        posexplode(col("__arr")).as(Seq("__pos", "__line")))
    val blacklisted = blacklist.foldLeft(lit(false))((acc, phrase) =>
      acc || lower(col("__line")).contains(phrase.toLowerCase))
    val kept = lines.where(
      TextAnalysis.wordCount(col("__line")) >= minWords && !blacklisted)
    kept.groupBy(col(idCol), col("__n"))
      .agg(count(lit(1)).as("n_kept"),
        concat_ws(sep, array_sort(collect_list(struct(col("__pos"), col("__line"))))
          .getField("__line")).as("text"))
      .select(col(idCol), col("text"), col("n_kept"),
        (col("__n") - col("n_kept")).as("n_dropped"))
  }
}

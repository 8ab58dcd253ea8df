package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Materialize.{checkpoint, using}

/** Similarity search over embedding columns (array<float>).
  *
  * Scale design: the baseline brute-force top-k is a broadcast join of the
  * (small) query set against the corpus — the corpus is scanned once, never
  * shuffled all-pairs. The scale path buckets vectors by random-hyperplane
  * LSH signs so candidate generation is an equi-join on bucket id (IVF-style
  * routing with deterministic, data-independent planes).
  */
object Similarity {

  /** Elementwise dot product — native codegen'd expression (one fused loop;
    * see [[graft.functions.DotProduct]]). */
  def dot(a: Column, b: Column): Column =
    graft.functions.VectorFunctions.dotNative(a, b)

  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Cosine similarity — native codegen'd expression fusing all three dot
    * products into one loop ([[graft.functions.CosineSimilarity]]);
    * bit-identical to the [[cosineHof]] formulation (asserted in
    * VectorExpressionsSpec), so every oracle hash is unchanged. */
  def cosine(a: Column, b: Column): Column =
    graft.functions.VectorFunctions.cosineNative(a, b)

  /** The zip_with/aggregate formulation (interpreted CodegenFallback in
    * Spark) — kept as the cross-check reference for the native expression. */
  def dotHof(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, x) => acc + x)

  def cosineHof(a: Column, b: Column): Column =
    dotHof(a, b) / (sqrt(dotHof(a, a)) * sqrt(dotHof(b, b)))

  /** Reciprocal-rank fusion (Cormack–Clarke–Buettcher SIGIR'09) of N
    * ranked retrieval arms — the standard way to combine a lexical (BM25)
    * and a vector (cosine ANN) arm into one hybrid ranking without score
    * calibration. Each arm contributes 1/(c + rank) per (query, doc);
    * fused docs are re-ranked by the summed contribution.
    *
    * Arms are (query_id, doc_id, rank) frames. Contributions are exact
    * integer micro-units (1000000 DIV (c + rank)) so the fusion has zero
    * float surface — an oracle replays it bit-for-bit from the arm ranks.
    *
    * Scale: the arms' top-k outputs are tiny relative to the corpora that
    * produced them (|queries|·k rows each); the union + groupBy shuffles
    * only those rows on (query_id, doc_id) with map-side combine, and the
    * per-query re-rank window partitions on query_id — no corpus-sized
    * exchange anywhere in the fusion itself.
    * Returns (query_id, doc_id, n_arms, rrf_micro, rank). */
  def rrfFuse(arms: Seq[DataFrame], c: Int = 60, topK: Int = 10): DataFrame = {
    require(arms.nonEmpty, "need at least one ranked arm")
    require(c >= 0, s"need rrf constant >= 0; got $c")
    val contrib = arms.map(_.select(col("query_id"), col("doc_id"),
        expr(s"CAST(1000000 DIV ($c + rank) AS BIGINT)").as("__rrf")))
      .reduce(_ unionByName _)
    val fused = contrib.groupBy("query_id", "doc_id")
      .agg(count(lit(1)).as("n_arms"), sum("__rrf").as("rrf_micro"))
    val w = Window.partitionBy("query_id").orderBy(desc("rrf_micro"), asc("doc_id"))
    fused.withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= topK)
  }

  /** Matryoshka / truncated-dimension retrieval QA: for each prefix length
    * d, run cosine top-k over only the FIRST d dimensions and measure
    * recall against the full-dimension exact top-k. This is the
    * acceptance test for Matryoshka-style embeddings (Kusupati et al.
    * NeurIPS'22): if recall holds at d ≪ dim, the serving index can store
    * d-dim prefixes — a dim/d memory and bandwidth cut on the ANN tier.
    *
    * Scale: the ground truth is computed ONCE and checkpointed (each rung
    * joins against the materialized pairs, not a recomputed brute-force
    * plan); each rung is a broadcast of the (small) query set against one
    * corpus scan — rungs never shuffle the corpus. At index scale the
    * per-rung scorer swaps for the IVF-routed candidate set; the report
    * shape stays identical. Returns one row per rung:
    * (dims, n_queries, n_exact, n_found, n_hit, recall). */
  def matryoshkaRecall(corpus: DataFrame, queries: DataFrame,
                       idCol: String, vecCol: String, k: Int,
                       prefixes: Seq[Int]): DataFrame = {
    require(prefixes.nonEmpty, "need at least one prefix length")
    require(prefixes.forall(_ > 0), s"prefix lengths must be positive; got $prefixes")
    val exact = checkpoint(bruteForceTopK(corpus, queries, idCol, vecCol, k)
      .select(col("query_id"), col("neighbor_id")))
    val rungs = prefixes.map { d =>
      val c = corpus.select(col(idCol), slice(col(vecCol), 1, d).as(vecCol))
      val q = queries.select(col(idCol), slice(col(vecCol), 1, d).as(vecCol))
      bruteForceTopK(c, q, idCol, vecCol, k)
        .select(lit(d.toLong).as("dims"), col("query_id"), col("neighbor_id"))
    }.reduce(_ unionByName _)
    recallAgainst(rungs, exact, "dims")
  }

  /** Recall@k of `found` (query_id, neighbor_id, groupCols…) against the
    * `exact` (query_id, neighbor_id) ground truth, one row per group:
    * (groupCols…, n_queries, n_exact, n_found, n_hit, recall) with
    * recall = n_hit / n_exact (1.0 when there is no ground truth). The
    * found pairs left-join the truth once; the denominator is a 1-row
    * aggregate over `exact`, broadcast to every group. */
  private[pipeline] def recallAgainst(found: DataFrame, exact: DataFrame,
                                      groupCols: String*): DataFrame = {
    val den = exact.agg(countDistinct(col("query_id")).as("n_queries"),
      count(lit(1)).as("n_exact"))
    found
      .join(exact.withColumn("__hit", lit(1L)), Seq("query_id", "neighbor_id"), "left")
      .groupBy(groupCols.map(col): _*)
      .agg(count(lit(1)).as("n_found"), coalesce(sum(col("__hit")), lit(0L)).as("n_hit"))
      .crossJoin(broadcast(den))
      .select(groupCols.map(col) ++ Seq(col("n_queries"), col("n_exact"), col("n_found"),
        col("n_hit"),
        round(when(col("n_exact") === 0, 1.0)
          .otherwise(col("n_hit").cast("double") / col("n_exact")), 4).as("recall")): _*)
  }

  /** Brute-force cosine top-k: for every query vector, the k nearest corpus
    * vectors (excluding itself). Query side is broadcast; ranking is a
    * window with deterministic (cos desc, id asc) tiebreak.
    * Returns (query_id, neighbor_id, cos, rank). */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame,
                     idCol: String, vecCol: String, k: Int): DataFrame = {
    val q = broadcast(queries.select(col(idCol).as("query_id"), col(vecCol).as("qv")))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"))
    val scored = c.join(q, col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        round(cosine(col("qv"), col("cv")), 6).as("cos"))
    topKPerQuery(scored, k)
  }

  /** The ANN ranking every operator here shares: per query_id, the `k`
    * best rows by (cos desc, neighbor_id asc), numbered 1..k in
    * `rankCol`. */
  private[pipeline] def topKPerQuery(scored: DataFrame, k: Int,
                                     rankCol: String = "rank"): DataFrame = {
    val w = Window.partitionBy("query_id").orderBy(desc("cos"), asc("neighbor_id"))
    scored.withColumn(rankCol, row_number().over(w)).where(col(rankCol) <= k)
  }

  /** Deterministic pseudo-random hyperplane component for (plane, dim):
    * ±1 from the parity of the first hex digit of md5("<plane>|<dim>") —
    * engine-portable (any SQL dialect with md5 reproduces the buckets), so
    * the LSH path is oracle-checkable, unlike a JVM-specific xxhash64.
    * The planes are data-independent constants, so they are computed ONCE
    * here on the driver (the column-level md5 formulation re-hashed every
    * (plane, dim) pair per ROW — planes×dim interpreted md5 calls per
    * record). */
  private def planeSign(plane: Int, dim: Int): Double = {
    val digest = java.security.MessageDigest.getInstance("MD5")
      .digest(s"$plane|$dim".getBytes(java.nio.charset.StandardCharsets.UTF_8))
    if (((digest(0) >> 4) & 0xf) % 2 == 1) 1.0 else -1.0
  }

  /** Precomputed plane vectors cover any embedding up to this many dims;
    * longer vectors fail loudly (raise_error) rather than bucketing wrong. */
  val maxPlaneDim = 4096

  /** Random-hyperplane LSH bucket id from `planes` sign bits. Each
    * projection is the native codegen'd dot product against a literal
    * ±1 plane sliced to the vector's length — same left-fold float→double
    * arithmetic as the md5-per-row formulation it replaces (sliced literal
    * elements are exactly ±1.0), so bucket ids are unchanged. */
  def cosineBuckets(vec: Column, planes: Int): Column = {
    val bits = (0 until planes).map { p =>
      val plane = typedLit((0 until maxPlaneDim).map(planeSign(p, _)).toArray)
      val proj = graft.functions.VectorFunctions.dotNative(
        vec, slice(plane, lit(1), size(vec)))
      when(proj >= 0, lit(1L << p)).otherwise(lit(0L))
    }
    when(size(vec) > maxPlaneDim,
      raise_error(lit(s"cosineBuckets: vector exceeds $maxPlaneDim dims")))
      .otherwise(bits.reduce(_ + _))
  }

  /** LSH-bucketed near-duplicate pairs over an UNBOUNDED corpus: vectors
    * are bucketed by hyperplane signs, candidate pairs come from the bucket
    * equi-join (never the all-pairs inequality join of
    * [[Dedup.embeddingCosinePairs]]), and the exact cosine filters them.
    * Recall < 1 by construction (two near-dups may straddle a plane);
    * repeat with different plane offsets to raise it.
    *
    * BUCKET-SIZE MATH (the round-15 rule: N/buckets is quadratic unless
    * buckets scale with N): `planes` sign bits give a FIXED 2^planes
    * buckets, so expected bucket size is N/2^planes and the bucket
    * self-join proposes ~N²/2^(planes+1) pairs — quadratic BY
    * CONSTRUCTION, the simhash-8-bit-chunk class; embedding clusters
    * (many near-identical vectors) concentrate it further. Two levers:
    * (1) WIDTH-SIZING — planes must grow with the corpus, planes ≳
    * log2(N/B) for target bucket size B (the measured census is in
    * SCALE.md round 16); (2) `maxBucket` (0 = off) drops buckets larger
    * than the bound before the self-join — the [[Dedup]] bandedCandidates
    * broadcast anti-join shape, bounding propose volume by maxBucket/2·N.
    * The recall trade is SHARPER than minhash's: this is a single band,
    * so a dropped bucket loses ALL its pairs (no k-independent second
    * chance) — raise planes first, cap as the backstop. Census
    * (ScaleProbe lshcensus, SCALE.md round 16): at 8 planes the propose
    * volume reads 9.2 k → 1.01 M → 101.5 M at 1×/10×/100× (quadratic,
    * as derived); 16 planes cuts the 100× rung 10× to 10.4 M — but
    * occupied buckets SATURATE (~1.9 k distinct sign patterns at p16:
    * real embeddings live on a low-dimensional sign manifold), so
    * width-sizing has a ceiling and the cap is the final backstop. The
    * default cap never binds below ~16 M vectors at 8 planes (top
    * measured bucket: 23 at sf0.1, 2 300 at the 100× rung — top grows
    * linearly, so only a degenerate single-pattern cluster trips it
    * early); a corpus whose AVERAGE bucket N/2^planes approaches the
    * cap needs planes raised, not the cap — dropping average-sized
    * buckets is recall collapse, not skew protection. The DuckDB
    * oracle mirrors the same bound. */
  def lshCosinePairs(df: DataFrame, idCol: String, vecCol: String,
                     planes: Int = 8, minCos: Double = 0.5,
                     maxBucket: Int = 65536): DataFrame = {
    val l = df.select(col(idCol).as("a"), col(vecCol).as("va"),
      cosineBuckets(col(vecCol), planes).as("bucket"))
    val r = df.select(col(idCol).as("b"), col(vecCol).as("vb"),
      cosineBuckets(col(vecCol), planes).as("bucket"))
    // the cap drops hot buckets from the LEFT side only: a pair needs
    // both sides in the bucket, so an emptied left side already yields
    // zero pairs for it — one anti-join, not two
    val lk =
      if (maxBucket <= 0) l
      else l.join(
        broadcast(l.groupBy("bucket").agg(count(lit(1)).as("__n"))
          .where(col("__n") > maxBucket).select("bucket")),
        Seq("bucket"), "left_anti")
    lk.join(r, Seq("bucket"))
      .where(col("a") < col("b"))
      .select(col("a"), col("b"), round(cosine(col("va"), col("vb")), 4).as("cos"))
      .where(col("cos") >= minCos)
  }

  /** IVF-routed ANN top-k: corpus vectors are assigned to their nearest
    * coarse-quantizer centroid (one broadcast join against `nlist` centroids
    * — the inverted-file build), queries probe their `nprobe` nearest lists,
    * and exact cosine ranks only the probed lists' members. Work per query
    * drops from |corpus| to ~|corpus|·nprobe/nlist; recall follows nprobe.
    *
    * The coarse quantizer is STATIC — the vectors with the `nlist` smallest
    * ids (requires a numeric id column) — so routing is deterministic and
    * engine-reproducible with no fitted model state; swap in sampled
    * k-means centroids for production without changing the plan shape.
    * Returns (query_id, neighbor_id, cos, rank). */
  def ivfTopK(corpus: DataFrame, queries: DataFrame,
              idCol: String, vecCol: String, k: Int,
              nlist: Int = 16, nprobe: Int = 4): DataFrame =
    ivfTopKWith(corpus, queries,
      corpus.where(col(idCol) < nlist)
        .select(col(idCol).cast("long").as("cid"), col(vecCol).as("centroid")),
      idCol, vecCol, k, nprobe)

  /** IVF top-k against an explicit quantizer (cid, centroid) — e.g. the
    * [[Clustering.kmeansCentroids]] fit. Same plan as [[ivfTopK]]: one
    * broadcast assignment scan builds the inverted lists, queries probe
    * their nprobe nearest lists, exact cosine ranks list members only. */
  def ivfTopKWith(corpus: DataFrame, queries: DataFrame, centroids: DataFrame,
                  idCol: String, vecCol: String, k: Int,
                  nprobe: Int = 4): DataFrame =
    // trim to (id, vec): any extra payload columns stay out of this
    // operator's canonical (query_id, neighbor_id, cos, rank) shape
    topKPerQuery(ivfScoredPairs(corpus.select(col(idCol), col(vecCol)),
        queries.select(col(idCol), col(vecCol)), centroids, idCol, vecCol, nprobe)
      .drop("probe_rank"), k)

  /** The shared IVF propose/score core: probed-list candidate pairs with
    * exact cosine, BEFORE any ranking — [[ivfTopKWith]] windows it to
    * top-k; [[hardNegatives]] filters by label first so same-label
    * neighbors cannot crowd the negatives out of the top-k;
    * [[ivfNprobeSweep]] ranks once at the deepest rung and derives the
    * shallower rungs from the emitted `probe_rank`. Extra columns on
    * `corpus`/`queries` beyond (id, vec) ride through to the output
    * prefixed `n_`/`q_` (narrow — they board the assignment and probe
    * projections, never a second corpus join). */
  private def ivfScoredPairs(corpus: DataFrame, queries: DataFrame,
                             centroids: DataFrame,
                             idCol: String, vecCol: String,
                             nprobe: Int): DataFrame = {
    // the nlist centroids as ONE collected cid-sorted row — nlist is
    // bounded by construction (it was the broadcast side already), and the
    // single row broadcasts to both the assignment and the probe scans
    val cent = broadcast(Clustering.centroidArray(centroids))
    val nExtra = corpus.columns.filterNot(Set(idCol, vecCol)).toSeq
    val qExtra = queries.columns.filterNot(Set(idCol, vecCol)).toSeq
    val assign = listAssign(corpus.select(col(idCol).as("neighbor_id") +:
      col(vecCol).as("cv") +: nExtra.map(c => col(c).as(s"n_$c")): _*), "cv", cent)
    val probes = probeLists(queries.select(col(idCol).as("query_id") +:
      col(vecCol).as("qv") +: qExtra.map(c => col(c).as(s"q_$c")): _*), "qv", cent, nprobe)
    probes.join(assign, Seq("cid"))
      .where(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id") +: col("neighbor_id") +: col("probe_rank") +:
        round(cosine(col("qv"), col("cv")), 6).as("cos") +:
        (qExtra.map(c => col(s"q_$c")) ++ nExtra.map(c => col(s"n_$c"))): _*)
  }

  /** Inverted-list assignment of every `df` row: the cid of the
    * cosine-nearest centroid in `cents` (a broadcast
    * [[Clustering.centroidArray]] row), appended as `cid`. The argmax-cosine
    * folds ROW-LOCALLY in the codegen'd NearestCentroid kernel — a narrow
    * projection with ZERO exchanges, where a min(struct(-cos, cid, cv))
    * aggregation would shuffle one winner row per vector (float vectors
    * aboard). IEEE negation is exact, so argmin(-cos) picks the
    * same winner (and smallest-cid tiebreak) as a desc(cos) ranking for
    * real-valued cosines; a NaN cosine (zero-norm centroid) compares
    * LARGEST, so a degenerate centroid wins nothing. The n×nlist scored
    * expansion never exists as rows; rows without a winner are dropped. */
  private[pipeline] def listAssign(df: DataFrame, vecCol: String, cents: DataFrame): DataFrame =
    df.crossJoin(cents)
      .withColumn("cid", graft.functions.VectorFunctions
        .nearestCentroidNegCos(col(vecCol), col("__cents")).getField("cid"))
      .where(col("cid").isNotNull)
      .drop("__cents")

  /** Probe selection: the `nprobe` cosine-nearest lists of every `df` row,
    * one row per probed list with (probe_rank, cid) appended — a row-local
    * transform + array_sort + slice over the broadcast centroid array
    * `cents` (no per-query aggregation or window); the sorted array
    * orders by (-cos, cid), so the slice keeps exactly the top-nprobe
    * winners, ranked 1..nprobe. */
  private[pipeline] def probeLists(df: DataFrame, vecCol: String, cents: DataFrame,
                                   nprobe: Int): DataFrame =
    df.crossJoin(cents)
      .select(df.columns.map(col) :+
        posexplode(slice(array_sort(transform(col("__cents"), c =>
            struct((-cosine(col(vecCol), c.getField("centroid"))).as("nc"),
              c.getField("cid").as("cid")))),
          1, nprobe)).as(Seq("__pos", "__p")): _*)
      .select(df.columns.map(col) ++ Seq((col("__pos") + 1).as("probe_rank"),
        col("__p.cid").as("cid")): _*)

  /** Hard-negative mining for contrastive/embedding training: for every
    * anchor, the `k` most similar corpus vectors whose label DIFFERS from
    * the anchor's — the high-cosine wrong-label examples metric-learning
    * batches are built around. Candidates come from the same IVF routing
    * as [[ivfTopKWith]] (probed lists only, never all pairs); the label
    * inequality filters BEFORE the top-k window, so same-label near
    * neighbors cannot crowd negatives out. Labels ride the assignment and
    * probe projections (narrow), not a corpus re-join. Returns (query_id,
    * anchor_label, neighbor_id, neighbor_label, cos, rank). */
  def hardNegatives(corpus: DataFrame, queries: DataFrame, centroids: DataFrame,
                    idCol: String, vecCol: String, labelCol: String, k: Int,
                    nprobe: Int = 4): DataFrame = {
    val c = corpus.select(col(idCol), col(vecCol), col(labelCol).cast("long").as("__lbl"))
    val q = queries.select(col(idCol), col(vecCol), col(labelCol).cast("long").as("__lbl"))
    topKPerQuery(ivfScoredPairs(c, q, centroids, idCol, vecCol, nprobe)
      .where(col("q___lbl") =!= col("n___lbl"))
      .select(col("query_id"), col("q___lbl").as("anchor_label"),
        col("neighbor_id"), col("n___lbl").as("neighbor_label"), col("cos")), k)
  }

  /** Contrastive training-pair miner — the triplet/InfoNCE batch feed:
    * for every anchor, ONE positive (the nearest same-label neighbor)
    * and `kNeg` hard negatives (the nearest different-label neighbors),
    * all scored in a single pass over the shared [[ivfScoredPairs]]
    * core. Both roles rank (cos desc, neighbor_id asc); anchors missing
    * a same-label candidate in their probed lists emit negatives only
    * (no synthetic positive — the caller decides whether to widen
    * nprobe or drop the anchor). Returns (query_id, anchor_label,
    * neighbor_id, neighbor_label, cos, role, rank) with role ∈
    * positive/negative.
    *
    * Scale: one IVF-routed candidate pass (probed lists only, never all
    * pairs); the role split is a predicate on columns already aboard,
    * and both top-k windows key on the anchor — bounded rows each. */
  def contrastivePairs(corpus: DataFrame, queries: DataFrame, centroids: DataFrame,
                       idCol: String, vecCol: String, labelCol: String,
                       kNeg: Int = 3, nprobe: Int = 4): DataFrame = {
    require(kNeg >= 1, s"need kNeg >= 1; got $kNeg")
    val c = corpus.select(col(idCol), col(vecCol), col(labelCol).cast("long").as("__lbl"))
    val q = queries.select(col(idCol), col(vecCol), col(labelCol).cast("long").as("__lbl"))
    val scored = ivfScoredPairs(c, q, centroids, idCol, vecCol, nprobe)
      .select(col("query_id"), col("q___lbl").as("anchor_label"),
        col("neighbor_id"), col("n___lbl").as("neighbor_label"), col("cos"))
    val pos = topKPerQuery(scored.where(col("anchor_label") === col("neighbor_label")), 1)
      .withColumn("role", lit("positive"))
    val neg = topKPerQuery(scored.where(col("anchor_label") =!= col("neighbor_label")), kNeg)
      .withColumn("role", lit("negative"))
    pos.unionByName(neg)
      .select(col("query_id"), col("anchor_label"), col("neighbor_id"),
        col("neighbor_label"), col("cos"), col("role"), col("rank").cast("long").as("rank"))
  }

  /** kNN label-vote report — the embedding-space label-noise detector: for
    * every anchor, the majority label among its `k` nearest (IVF-routed)
    * neighbors, compared to the anchor's own label. Anchors whose
    * neighborhood out-votes their label are the mislabeled/ambiguous rows
    * a training pipeline routes to review (the Confident-Learning signal,
    * computed geometrically). Vote ties break (count desc, label asc);
    * neighbor ranking ties break (cos desc, neighbor_id asc) like every
    * ANN operator here. Anchors with no different-probe neighbors vanish
    * (no evidence), same as [[ivfTopKWith]].
    *
    * Scale: candidates ride the shared [[ivfScoredPairs]] core (probed
    * lists only); the top-k window and the per-(anchor, label) vote count
    * are both keyed by anchor — bounded k rows each — and the final
    * argmax is a fixed-width min(struct). Returns (query_id,
    * anchor_label, voted_label, votes, mismatch). */
  def knnLabelVote(corpus: DataFrame, queries: DataFrame, centroids: DataFrame,
                   idCol: String, vecCol: String, labelCol: String, k: Int,
                   nprobe: Int = 4): DataFrame = {
    val c = corpus.select(col(idCol), col(vecCol), col(labelCol).cast("long").as("__lbl"))
    val q = queries.select(col(idCol), col(vecCol), col(labelCol).cast("long").as("__lbl"))
    val topk = topKPerQuery(ivfScoredPairs(c, q, centroids, idCol, vecCol, nprobe), k, "__rk")
    topk.groupBy(col("query_id"), col("q___lbl"), col("n___lbl"))
      .agg(count(lit(1)).as("votes"))
      .groupBy(col("query_id"), col("q___lbl").as("anchor_label"))
      .agg(min(struct((-col("votes")).as("__neg"), col("n___lbl").as("lbl"))).as("__top"))
      .select(col("query_id"), col("anchor_label"),
        col("__top.lbl").as("voted_label"), (-col("__top.__neg")).as("votes"),
        (col("__top.lbl") =!= col("anchor_label")).as("mismatch"))
  }

  /** LSH-bucketed ANN top-k: queries join only corpus vectors in the same
    * bucket (equi-join on bucket id) — the 100 TB path where broadcast of
    * per-bucket candidates replaces a full scan per query. Recall < 1 by
    * construction; increase planes for precision, repeat with plane offsets
    * for recall. Returns (query_id, neighbor_id, cos, rank).
    *
    * BUCKET-SIZE MATH: 2^planes buckets are FIXED, so per-query candidate
    * work is ~N/2^planes — LINEAR in the corpus at fixed planes (total
    * work N·Q/2^planes; never quadratic in N alone, unlike the pair
    * join in [[lshCosinePairs]]). The scale policy is WIDTH-SIZING, not
    * a cap: planes ≳ log2(N/B) keeps per-query candidates at target B,
    * and a cap would silently truncate top-k result sets for every
    * query landing in a hot bucket (dropping candidates changes ranks,
    * not just recall). For bounded-work serving at volume prefer the
    * IVF family ([[ivfTopK]] / AnnIndex), whose per-query work is
    * nprobe/nlist-governed independent of skew. */
  def lshTopK(corpus: DataFrame, queries: DataFrame,
              idCol: String, vecCol: String, k: Int, planes: Int = 8): DataFrame = {
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"),
      cosineBuckets(col(vecCol), planes).as("bucket"))
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"),
      cosineBuckets(col(vecCol), planes).as("bucket"))
    val scored = c.join(q, Seq("bucket"))
      .where(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        round(cosine(col("qv"), col("cv")), 6).as("cos"))
    topKPerQuery(scored, k)
  }

  /** IVF probe-depth sweep — the nprobe tuning table an operator reads
    * before a rollout (the ANN sibling of [[Dedup.thresholdSweep]]):
    * recall@k AND the scored-candidate volume (the cost proxy — work per
    * query ≈ n_candidates/n_queries exact scores) for a ladder of nprobe
    * values, ALL from one shared pass. The inverted-file assignment and
    * the per-query probe ranking run once at the DEEPEST rung with the
    * probe position kept; each rung is then a filter on probe_rank over
    * the checkpointed scored table plus one small top-k window — never a
    * re-probe of the corpus. Ground truth is [[bruteForceTopK]] on the
    * same (sample-sized) query slice, shared across rungs. Returns one
    * row per rung: (nprobe, n_queries, n_exact, n_candidates, n_found,
    * n_hit, recall). */
  def ivfNprobeSweep(corpus: DataFrame, queries: DataFrame,
                     idCol: String, vecCol: String, k: Int,
                     nlist: Int = 16, nprobes: Seq[Int] = Seq(1, 2, 4)): DataFrame = {
    require(nprobes.nonEmpty && nprobes.forall(_ >= 1),
      s"need a non-empty ladder of nprobe >= 1; got $nprobes")
    val maxP = nprobes.max
    // ONE shared-core pass at the deepest rung (assignment + probe ranking
    // + exact scoring); every shallower rung is a filter on the emitted
    // probe_rank — no per-rung re-scan
    val scored = checkpoint(ivfScoredPairs(
        corpus.select(col(idCol), col(vecCol)),
        queries.select(col(idCol), col(vecCol)),
        corpus.where(col(idCol) < nlist)
          .select(col(idCol).cast("long").as("cid"), col(vecCol).as("centroid")),
        idCol, vecCol, maxP))
    val exact = checkpoint(bruteForceTopK(corpus, queries, idCol, vecCol, k)
      .select(col("query_id").cast("long"), col("neighbor_id").cast("long")))
    nprobes.sorted.map { p =>
      val cand = scored.where(col("probe_rank") <= p)
      val top = topKPerQuery(cand, k)
        .select(col("query_id").cast("long"), col("neighbor_id").cast("long"))
      cand.agg(count(lit(1)).as("n_candidates"))
        .crossJoin(broadcast(recallAgainst(top, exact)))
        .select(lit(p.toLong).as("nprobe"), col("n_queries"), col("n_exact"),
          col("n_candidates"), col("n_found"), col("n_hit"), col("recall"))
    }.reduce(_ unionByName _)
  }

  /** ANN recall measured, not assumed — the vector-space sibling of
    * [[Dedup.lshRecallReport]]: run [[bruteForceTopK]] (ground truth) and
    * each approximate arm (LSH buckets, IVF inverted lists, IVF-PQ with
    * ADC scoring) over the SAME query slice and report, per method, how
    * many of the exact top-k pairs the approximate path found. Recall@k =
    * |approx ∩ exact| / |exact|; for the cosine-ranked arms any miss is
    * bucketing/probing loss, for IVF-PQ it additionally folds in
    * quantization error (ADC ranks by compressed L2, not exact cosine) —
    * which is precisely what an operator gating a 100 TB ANN rollout wants
    * folded in. Returns one row per method:
    * (method, n_queries, n_exact, n_found, n_hit, recall).
    *
    * Scale: run on a hash-sampled query slice — the exact arm is a full
    * scan per query and only exists at sample scale; the approximate arms
    * are the production plans unchanged. */
  def annRecallReport(corpus: DataFrame, queries: DataFrame,
                      idCol: String, vecCol: String, k: Int,
                      planes: Int = 4, nlist: Int = 16, nprobe: Int = 4,
                      m: Int = 16, codewords: Int = 256,
                      ivfPqNprobe: Int = 8,
                      ivfPqIdx: Option[(DataFrame, DataFrame)] = None): DataFrame = {
    // ground truth consumed by every arm's join AND the denominator — one
    // materialization, not one brute-force scan per consumer
    val exact = checkpoint(bruteForceTopK(corpus, queries, idCol, vecCol, k)
      .select(col("query_id").cast("long"), col("neighbor_id").cast("long")))
    def arm(name: String, df: DataFrame): DataFrame =
      df.select(lit(name).as("method"), col("query_id").cast("long"),
        col("neighbor_id").cast("long"))
    val (cent, cb) = ivfPqIdx.getOrElse(
      Quantization.ivfPqIndex(corpus, idCol, vecCol, nlist, m, codewords))
    // ONE corpus-scan encode shared by BOTH ivfpq arms (round 16): the
    // plain-ADC arm and the rerank arm consumed bit-identical encode
    // output yet each paid its own corpus encode inside one report.
    // Persisted without a fill, not eagerly checkpointed: the arms'
    // subtrees run concurrently inside the one report job, so an eager
    // encode would serialize a step the scheduler otherwise overlaps with
    // the lsh/ivf arms (measured +1.5 s); the cache's block locking makes
    // the first computing arm fill it and the other read it.
    using(Quantization.ivfPqEncode(corpus, idCol, vecCol, m, cent, cb)) { codes =>
      val arms = arm("lsh", lshTopK(corpus, queries, idCol, vecCol, k, planes))
        .unionByName(arm("ivf", ivfTopK(corpus, queries, idCol, vecCol, k, nlist, nprobe)))
        .unionByName(arm("ivfpq",
          Quantization.ivfPqSearchCodes(codes, queries, idCol, vecCol, k, ivfPqNprobe, m, cent, cb)))
        .unionByName(arm("ivfpq_rerank",
          Quantization.ivfPqTopKRerankCodes(codes, corpus, queries, idCol, vecCol,
            k, 4, ivfPqNprobe, m, cent, cb)))
      // the 4-row report is evaluated eagerly so the shared-codes cache is
      // released before returning — a lazily returned frame could never
      // release it safely
      checkpoint(recallAgainst(arms, exact, "method"))
    }
  }
}

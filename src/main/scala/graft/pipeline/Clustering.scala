package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.Materialize.checkpoint
import graft.analytics.Superstep
import graft.functions.VectorFunctions.dotNative

/** Deterministic distributed k-means (Lloyd's) over an embedding column —
  * the fitted coarse quantizer for [[Similarity.ivfTopK]] (whose static
  * quantizer is exactly the iteration-0 state here).
  *
  * Every step is engine-portable and partition-order independent, so a SQL
  * oracle can reproduce the run bit-for-bit:
  *  - init: the k vectors with the smallest ids (no RNG state to ship);
  *  - assignment: argmin of ‖v−c‖² = v·v − 2 v·c + c·c (native codegen'd
  *    dot products, same left-fold order as SQL list_sum/list_transform),
  *    ties broken by smallest centroid id;
  *  - update: element-wise mean with the sums carried in DECIMAL (exact,
  *    order-free — a double sum would vary with partitioning), divided as
  *    double; clusters that lose every point keep their previous centroid.
  *
  * Scale shape per iteration: assignment is a NARROW corpus scan (the k
  * centroids broadcast as one collected row; the argmin folds row-locally
  * in the codegen'd [[graft.functions.NearestCentroid]] kernel — zero
  * exchanges, nothing ships the corpus vectors) + one map-side-combinable
  * groupBy(cid, pos) whose shuffle is ~k·dims rows per partition (update).
  * Nothing is quadratic in the corpus; k and iters are the only
  * multipliers. Each iteration is one [[graft.analytics.Superstep.rounds]]
  * round that checkpoints its centroids, so the plan stays flat across
  * iterations.
  */
object Clustering {

  /** Final centroids after `iters` Lloyd iterations: (cid, centroid).
    * Seeds are the k smallest ids actually PRESENT (sparse or offset id
    * spaces yield k seeds all the same; a corpus smaller than k yields one
    * seed per vector). */
  def kmeansCentroids(df: DataFrame, idCol: String, vecCol: String,
                      k: Int, iters: Int): DataFrame = {
    require(k > 0 && iters >= 0, s"need k > 0, iters >= 0; got k=$k iters=$iters")
    val corpus = df.select(col(idCol).as("__id"), col(vecCol).cast("array<double>").as("__v"))
    val seeds = checkpoint(corpus.orderBy("__id").limit(k)
      .select(col("__id").as("cid"), col("__v").as("centroid")))
    Superstep.rounds(seeds, iters, every = 1) { (cents, _) =>
      recenter(cents, assign(corpus, cents)
        .select(col("cid"), posexplode(col("__v")).as(Seq("pos", "val"))),
        Seq("cid"), "centroid")
    }
  }

  /** One Lloyd update, shared by [[kmeansCentroids]] and the residual PQ
    * codebook training: `members` (keys…, pos, val) holds one row per
    * member vector component; each (keys…) group's new vector is the
    * element-wise mean, its sums carried in DECIMAL(30,10) (exact and
    * partition-order independent) and divided as double, assembled in
    * pos order. `prev` (keys…, vecCol) rows that lost every member keep
    * their previous vector. Returns (keys…, vecCol). */
  private[pipeline] def recenter(prev: DataFrame, members: DataFrame,
                                 keys: Seq[String], vecCol: String): DataFrame = {
    val means = members
      .groupBy((keys :+ "pos").map(col): _*)
      .agg(sum(col("val").cast("decimal(30,10)")).as("sm"), count(lit(1)).as("n"))
      .select((keys :+ "pos").map(col) :+ (col("sm").cast("double") / col("n")).as("m"): _*)
    val fresh = means.groupBy(keys.map(col): _*)
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("m")))),
        x => x.getField("m")).as("fresh"))
    prev.join(fresh, keys, "left")
      .select(keys.map(col) :+ coalesce(col("fresh"), col(vecCol)).as(vecCol): _*)
  }

  /** Final cluster assignment after `iters` iterations: (idCol, cid). */
  def kmeans(df: DataFrame, idCol: String, vecCol: String,
             k: Int, iters: Int): DataFrame = {
    val corpus = df.select(col(idCol).as("__id"), col(vecCol).cast("array<double>").as("__v"))
    assign(corpus, kmeansCentroids(df, idCol, vecCol, k, iters))
      .select(col("__id").as(idCol), col("cid"))
  }

  /** Append the argmin-centroid assignment to `df` as a `cid` column — the
    * NARROW form callers should prefer over `kmeans(...)` + join-back on
    * id: all of `df`'s columns ride through a pure projection (zero
    * exchanges), so downstream consumers that need the vectors alongside
    * the assignment never pay an id-keyed corpus join. Scoring is
    * identical to [[kmeans]] (cast to array<double>, L2² argmin, smallest
    * cid on ties); rows whose assignment is undefined (null vector /
    * empty centroid set) are dropped. */
  def assignTo(df: DataFrame, idCol: String, vecCol: String,
               cents: DataFrame): DataFrame =
    nearestL2(df, col(vecCol).cast("array<double>"), cents)
      .withColumn("cid", col("__s.cid"))
      .drop("__s")

  /** Per-cluster SIMPLIFIED silhouette (Hruschka et al.'s centroid-based
    * variant): per vector, a = distance to its own (nearest) centroid and
    * b = distance to the second-nearest centroid, s = (b − a)/max(a, b) in
    * [−1, 1]; the report is the per-cluster member count and silhouette
    * sum/mean in exact integer micro-units. The classic silhouette needs
    * all-pairs distances (quadratic — impossible at corpus scale); the
    * simplified form is the standard linear surrogate and ranks cluster
    * quality the same way.
    *
    * Engine parity: distances replay the kmeans oracle's exact fold
    * (v·v − 2 v·c + c·c, sequential left folds), per-point s is floored
    * to micro-units half-up, and the per-cluster mean is
    * floor(sum/count) — floor division on BOTH engines (a truncating DIV
    * would disagree on negative sums). Degenerate a = b = 0 scores 0.
    *
    * Scale: one corpus × k-centroid broadcast expansion (k rows per
    * vector), ONE vec-keyed exchange shared by the top-2 window and the
    * pivot, then a map-side-combinable groupBy(cid). A native top-2
    * centroid kernel (the [[graft.functions.NearestCentroid]] shape) would
    * fold the expansion row-locally and drop the exchange — the upgrade
    * path if this ever leaves QA-report duty.
    * Returns (cid, n_members, sum_sil_micro, mean_sil_micro).
    *
    * This convenience form fits k-means internally; callers that already
    * hold fitted centroids (an embedding_kmeans result, an
    * iterate-and-rescore loop) should use the (cid, centroid) overload
    * below and not pay the Lloyd iterations twice. */
  def silhouetteReport(df: DataFrame, idCol: String, vecCol: String,
                       k: Int, iters: Int): DataFrame =
    silhouetteReport(df, idCol, vecCol, kmeansCentroids(df, idCol, vecCol, k, iters))

  /** [[silhouetteReport]] against PRECOMPUTED centroids (cid, centroid) —
    * the rescoring half: scoring, micro-unit rules and output shape are
    * identical to the fitting form, with zero Lloyd iterations paid. */
  def silhouetteReport(df: DataFrame, idCol: String, vecCol: String,
                       cents: DataFrame): DataFrame = {
    val corpus = df.select(col(idCol).as("__id"), col(vecCol).cast("array<double>").as("__v"))
    val scored = corpus.crossJoin(broadcast(cents))
      .select(col("__id"), col("cid"),
        (dotNative(col("__v"), col("__v"))
          - dotNative(col("__v"), col("centroid")) * 2
          + dotNative(col("centroid"), col("centroid"))).as("__d2"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("__id").orderBy(col("__d2").asc, col("cid").asc)
    val ab = scored.withColumn("__rn", row_number().over(w)).where(col("__rn") <= 2)
      .groupBy("__id")
      .agg(max(when(col("__rn") === 1, col("cid"))).as("cid"),
        sqrt(greatest(max(when(col("__rn") === 1, col("__d2"))), lit(0.0))).as("__a"),
        sqrt(greatest(max(when(col("__rn") === 2, col("__d2"))), lit(0.0))).as("__b"))
    val sil = ab.select(col("cid"),
      when(greatest(col("__a"), col("__b")) === 0.0, lit(0L))
        .otherwise(floor((col("__b") - col("__a")) / greatest(col("__a"), col("__b"))
          * 1000000.0 + 0.5).cast("long")).as("__s"))
    sil.groupBy("cid")
      .agg(count(lit(1)).as("n_members"), sum("__s").as("sum_sil_micro"))
      .select(col("cid"), col("n_members"),
        col("sum_sil_micro"),
        floor(col("sum_sil_micro").cast("double") / col("n_members"))
          .cast("long").as("mean_sil_micro"))
  }

  /** Embedding-space outlier report (the CCNet-style quality filter in
    * vector space): the `topN` vectors FARTHEST from their own k-means
    * centroid — mislabeled, off-distribution, or garbage embeddings
    * surface first. Returns (idCol, cid, dist2) ordered by (dist2 desc,
    * id asc); dist2 is rounded to 6 decimals BEFORE ranking so the
    * boundary is deterministic. The global top-N is a TakeOrdered (each
    * partition keeps N, the driver merges) — no single-partition sort. */
  def centroidOutliers(df: DataFrame, idCol: String, vecCol: String,
                       k: Int, iters: Int, topN: Int): DataFrame = {
    require(topN > 0, s"need topN > 0; got $topN")
    ownCentroidDist(df, idCol, vecCol, k, iters)
      .orderBy(desc("dist2"), col(idCol).asc)
      .limit(topN)
  }

  /** Per-cluster PROTOTYPES — the dual of [[centroidOutliers]] and the
    * selection half of a D4-style pipeline: the `perCluster` vectors
    * CLOSEST to their own fitted k-means centroid, per cluster. Prototype
    * rows are the cluster-balanced "most representative" subset used to
    * seed curricula, few-shot pools, and human review queues. Returns
    * (idCol, cid, rank, dist2), rank 1 = closest, dist2 rounded to 6
    * decimals BEFORE ranking so the boundary is deterministic; ties break
    * by id.
    *
    * Scale: scoring is the same zero-exchange row-local argmin as
    * [[assignTo]]. The per-cluster top-m is TWO-PHASE — a first window
    * over (cid, input-partition) prunes each shard to its local top-m
    * (group count = k × partitions, all bounded), and only the ≤
    * k·m·partitions survivors meet the global per-cid window — because a
    * single window keyed by k cluster ids would funnel corpus/k rows
    * through one task each (the content-keyed-window trap, at any corpus
    * size). The local prune is correctness-neutral under ANY partitioning:
    * a global top-m row beats every competitor in its own shard too, and
    * the global phase re-ranks survivors with the same strict
    * (dist2, id) order. */
  def clusterPrototypes(df: DataFrame, idCol: String, vecCol: String,
                        k: Int, iters: Int, perCluster: Int): DataFrame = {
    require(perCluster > 0, s"need perCluster > 0; got $perCluster")
    val scored = ownCentroidDist(df, idCol, vecCol, k, iters)
    val wLocal = org.apache.spark.sql.expressions.Window
      .partitionBy(col("cid"), col("__shard"))
      .orderBy(col("dist2").asc, col(idCol).asc)
    val pruned = scored.withColumn("__shard", spark_partition_id())
      .withColumn("__r", row_number().over(wLocal))
      .where(col("__r") <= perCluster)
      .drop("__r", "__shard")
    val wGlobal = org.apache.spark.sql.expressions.Window
      .partitionBy("cid").orderBy(col("dist2").asc, col(idCol).asc)
    pruned.withColumn("rank", row_number().over(wGlobal).cast("long"))
      .where(col("rank") <= perCluster)
      .select(col(idCol), col("cid"), col("rank"), col("dist2"))
  }

  /** (idCol, cid, dist2): each vector's own fitted k-means centroid and
    * its L2² distance to it, rounded to 6 decimals BEFORE any ranking so
    * ranking boundaries are deterministic — the scoring half of
    * [[centroidOutliers]] and [[clusterPrototypes]], the same
    * zero-exchange row-local argmin as [[assignTo]]. */
  private def ownCentroidDist(df: DataFrame, idCol: String, vecCol: String,
                              k: Int, iters: Int): DataFrame = {
    val corpus = df.select(col(idCol).as("__id"), col(vecCol).cast("array<double>").as("__v"))
    nearestL2(corpus, col("__v"), kmeansCentroids(df, idCol, vecCol, k, iters))
      .select(col("__id").as(idCol), col("__s.cid").as("cid"),
        round(col("__s.d"), 6).as("dist2"))
  }

  /** Per-dimension corpus statistics over an embedding column — the
    * embedding-QA report that surfaces collapsed dimensions (zero
    * variance), scale drift between ingest batches, and clipped values:
    * (pos, n_vals, mean, variance, min_val, max_val), one row per
    * dimension. Means/variances carry their sums in DECIMAL so the values
    * are exact and partition-order independent (a double sum would vary
    * with partitioning — the k-means update rule's device); variance is
    * the population form E[x²] − E[x]², both terms from the same scan.
    *
    * Scale: one posexplode + ONE map-side-combinable aggregation keyed by
    * dimension index — ~dims groups regardless of corpus size, nothing
    * skewable. */
  def dimStats(df: DataFrame, vecCol: String): DataFrame =
    df.select(posexplode(col(vecCol).cast("array<double>")).as(Seq("pos", "val")))
      .groupBy(col("pos").cast("long").as("pos"))
      .agg(
        count(lit(1)).as("n_vals"),
        sum(col("val").cast("decimal(30,10)")).as("__s"),
        sum((col("val") * col("val")).cast("decimal(30,10)")).as("__s2"),
        min(col("val")).as("min_val"),
        max(col("val")).as("max_val"))
      .select({
        // a statistic rounding to zero must read +0.0 on every engine
        // (Spark's BigDecimal round drops the sign, C round keeps it)
        def z(c: org.apache.spark.sql.Column) =
          when(c === 0.0, lit(0.0)).otherwise(c)
        Seq(col("pos"), col("n_vals"),
          z(round(col("__s").cast("double") / col("n_vals"), 6)).as("mean"),
          z(round(col("__s2").cast("double") / col("n_vals") -
            (col("__s").cast("double") / col("n_vals")) *
            (col("__s").cast("double") / col("n_vals")), 6)).as("variance"),
          z(round(col("min_val"), 6)).as("min_val"),
          z(round(col("max_val"), 6)).as("max_val"))
      }: _*)

  /** Per-vector norm QA — (id, l1, l2, linf), rounded to 6 digits: the
    * embedding-health screen that catches unnormalized batches, zero
    * vectors and inf/overflow rows before they poison cosine math
    * downstream. Pure codegen'd projections (the l2 dot product is the
    * same left-fold [[graft.functions.VectorFunctions.dotNative]] kernel
    * the ANN operators use), no shuffle at all. */
  def norms(df: DataFrame, idCol: String, vecCol: String): DataFrame = {
    val v = col(vecCol).cast("array<double>")
    df.select(col(idCol),
      round(aggregate(v, lit(0.0), (acc, x) => acc + abs(x)), 6).as("l1"),
      round(sqrt(dotNative(v, v)), 6).as("l2"),
      round(array_max(transform(v, x => abs(x))), 6).as("linf"))
  }

  /** Per-dimension-PAIR covariance matrix (upper triangle, i ≤ j) of the
    * embedding column — the PCA/whitening-prep statistic: cov(i,j) =
    * E[xᵢxⱼ] − E[xᵢ]E[xⱼ], with every sum carried exactly in
    * DECIMAL(30,10) (partition-order independent) like [[dimStats]].
    * Returns (i, j, n_vals, cov), d(d+1)/2 rows for d dimensions.
    *
    * Scale (round 10): ONE corpus pass through the
    * [[graft.functions.CovMatrix]] imperative aggregate — per-partition
    * state is the ~d²/2-cell decimal-sum table, merged cell-wise; nothing
    * amplifies corpus rows (the old plan exploded d(d+1)/2 structs per
    * row before its hash aggregation, a ~2000× row expansion at d = 64)
    * and the per-dimension means come from the SAME pass. Decimal
    * quantization per addend is pinned to `cast(p AS decimal(30,10))`, so
    * every value is bit-identical to the explode form. The d-row mean
    * table joins back broadcast; no corpus self-join, no shuffle keyed by
    * row id. */
  def covariance(df: DataFrame, vecCol: String): DataFrame = {
    // one row; checkpointed because cells and means both consume it
    val m = checkpoint(df.agg(graft.functions.CovMatrix
        .covMatrix(col(vecCol).cast("array<double>")).as("__m")))
    val pairs = m.select(explode(col("__m.cells")).as("e"))
      .select(col("e.i").as("i"), col("e.j").as("j"),
        col("e.n").as("n_vals"), col("e.sxy").as("__sxy"))
    val means = m.select(explode(col("__m.dims")).as("e"))
      .select(col("e.d").as("d"),
        (col("e.sx").cast("double") / col("e.n")).as("__mean"))
    val c = round(col("__sxy").cast("double") / col("n_vals") -
      col("__mi") * col("__mj"), 6)
    pairs
      .join(broadcast(means.select(col("d").as("i"), col("__mean").as("__mi"))), Seq("i"))
      .join(broadcast(means.select(col("d").as("j"), col("__mean").as("__mj"))), Seq("j"))
      // a covariance rounding to zero must read +0.0 on every engine
      // (Spark's BigDecimal round drops the sign, C round keeps it)
      .select(col("i"), col("j"), col("n_vals"),
        when(c === 0.0, lit(0.0)).otherwise(c).as("cov"))
  }

  /** Top principal-component loadings by POWER ITERATION over the
    * [[covariance]] matrix — the PCA direction without ever collecting a
    * row of data: v ← C·v from v₀ = 1⃗ for `iters` rounds, normalized once
    * at the end. Every matrix-vector product is a join over the d²-row
    * matrix with DECIMAL-carried sums, so the result is partition-order
    * independent and an SQL oracle replays it exactly. Returns
    * (dim, loading), d rows.
    *
    * Scale: the corpus is touched ONCE (by [[covariance]]); the iteration
    * runs on d-row / d²-row frames that broadcast — at 100 TB the cost is
    * the covariance pass, the eigensolve is noise. No driver-side linear
    * algebra, no per-row collect. */
  def pcaLoadings(df: DataFrame, vecCol: String, iters: Int = 3): DataFrame = {
    require(iters >= 1, s"need iters >= 1; got $iters")
    normalizedLoadings(powerIterate(symmetricCov(df, vecCol), iters))
      .select(col("d").as("dim"), col("loading"))
  }

  /** The full symmetric covariance matrix as an eagerly-materialized
    * (i, j, cov) frame. The upper triangle is checkpointed BEFORE
    * mirroring — a union of two lazy covariance subtrees would execute the
    * corpus scan twice, and every downstream reference (v0, each power
    * iteration's product AND its max) would otherwise re-run the whole
    * scan as the plan tree doubled per iteration. */
  private def symmetricCov(df: DataFrame, vecCol: String): DataFrame = {
    val cov = checkpoint(covariance(df, vecCol).select(col("i"), col("j"), col("cov")))
    checkpoint(cov.unionByName(
      cov.where(col("i") =!= col("j"))
        .select(col("j").as("i"), col("i").as("j"), col("cov"))))
  }

  /** Power iteration v ← C·v from v₀ = 1⃗ over an (i, j, cov) matrix frame,
    * `iters` decimal-carried matrix-vector products. Caveat (deliberate,
    * mirrored by the oracle): the all-ones start is DETERMINISTIC, so when
    * the dominant eigenvector is (near-)orthogonal to 1⃗ — e.g. perfectly
    * anti-symmetric dimensions — the iteration converges to a secondary
    * axis or stalls; correct vs the oracle, but "top component" should be
    * read as "top component reachable from 1⃗". Returns the unnormalized
    * final iterate (d, v). */
  private def powerIterate(full: DataFrame, iters: Int): DataFrame = {
    var v = full.select(col("i").as("d")).distinct().withColumn("v", lit(1.0))
    for (_ <- 0 until iters) {
      // checkpoint each d-row iterate too: the rescale reads it twice
      val w = checkpoint(full.join(broadcast(v.select(col("d").as("j"), col("v"))), Seq("j"))
        .groupBy("i")
        .agg(sum((col("cov") * col("v")).cast("decimal(30,10)")).as("__s"))
        .select(col("i").as("d"), col("__s").cast("double").as("v")))
      // rescale to max|v| = 1 every round: eigenvalues < 1 would otherwise
      // shrink v into the DECIMAL(30,10) quantum and the next product sum
      // would lose relative precision (max/divide are exact double ops, so
      // portability is untouched and the direction is scale-invariant)
      val mx = w.agg(max(abs(col("v"))).as("__m"))
      // an all-zero covariance matrix (constant or single-row corpus) has
      // max|v| = 0: surface NULL loadings, not a silent 0/0 NaN cascade
      // (the oracle mirrors with NULLIF; null sums propagate identically)
      v = w.crossJoin(broadcast(mx))
        .select(col("d"), when(col("__m") === 0.0, lit(null).cast("double"))
          .otherwise(col("v") / col("__m")).as("v"))
    }
    v
  }

  /** L2-normalize a (d, v) iterate into (d, loading) rounded to 6 digits
    * with signed zeros squashed (engine-portable). */
  private def normalizedLoadings(v: DataFrame): DataFrame = {
    val nrm = v.agg(sum((col("v") * col("v")).cast("decimal(30,10)")).as("__n"))
      .select(sqrt(col("__n").cast("double")).as("__nrm"))
    val l = round(col("v") / col("__nrm"), 6)
    v.crossJoin(broadcast(nrm))
      .select(col("d"),
        when(l === 0.0, lit(0.0)).otherwise(l).as("loading"))
  }

  /** Per-dimension means from decimal-carried sums — the centering vector
    * for [[pcaProject]] (d rows; broadcasts). */
  private def dimMeans(df: DataFrame, vecCol: String): DataFrame =
    df.select(posexplode(col(vecCol).cast("array<double>")).as(Seq("d", "x")))
      .groupBy(col("d").cast("long").as("d"))
      .agg(sum(col("x").cast("decimal(30,10)")).as("__s"), count(lit(1)).as("__n"))
      .select(col("d"), (col("__s").cast("double") / col("__n")).as("mean"))

  /** Deflation loop shared by [[pcaProject]] and [[pcaWhiten]]: the top-p
    * unit loadings plus each component's Rayleigh quotient λ_k = vᵀΣ_k v
    * against the matrix it was extracted from (the decimal-summed double
    * the deflation step already used — the oracle replays it verbatim). */
  private def pcaComponents(df: DataFrame, vecCol: String,
      p: Int, iters: Int, needLambda: Boolean = true): Seq[(DataFrame, DataFrame)] = {
    var cur = symmetricCov(df, vecCol)
    (0 until p).map { k =>
      val lk = checkpoint(normalizedLoadings(powerIterate(cur, iters)))
      val vi = broadcast(lk.select(col("d").as("i"), col("loading").as("__vi")))
      val vj = broadcast(lk.select(col("d").as("j"), col("loading").as("__vj")))
      val lamLazy = cur.join(vi, Seq("i")).join(vj, Seq("j"))
        .agg(sum((col("cov") * col("__vi") * col("__vj")).cast("decimal(30,10)")).as("__s"))
        .select(col("__s").cast("double").as("__lam"))
      // λ is eagerly materialized only where it's consumed: deflation
      // (k < p-1) reads it in the next covariance update, and whitening
      // callers (needLambda) read every λ including the last. pcaProject
      // passes needLambda=false, so its final component's λ frame stays
      // lazy and discarding it costs zero scheduled jobs.
      val lam = if (k < p - 1 || needLambda) checkpoint(lamLazy)
                else lamLazy
      if (k < p - 1) {
        cur = checkpoint(cur.join(vi, Seq("i")).join(vj, Seq("j")).crossJoin(broadcast(lam))
          .select(col("i"), col("j"),
            (col("cov") - col("__lam") * col("__vi") * col("__vj")).as("cov")))
      }
      (lk.withColumn("component", lit(k.toLong)),
        lam.withColumn("component", lit(k.toLong)))
    }
  }

  /** PCA projection: coordinates of every (centered) embedding on the top-p
    * principal components — the dimensionality-reduction transform that
    * turns [[pcaLoadings]]' eigensolve into a usable pipeline step.
    * Components after the first come from HOTELLING DEFLATION on the
    * (rounded, published) leading loadings: λ = v₁ᵀCv₁, C ← C − λ·v₁v₁ᵀ,
    * re-iterate. Because deflation uses the 6-decimal published v₁, later
    * components carry an O(1e-6) residual of earlier axes — deterministic,
    * replayed exactly by the oracle, and negligible against the components
    * themselves. Returns (id, component, coord), n·p rows.
    *
    * Scale: two corpus passes (the fused one-pass covariance aggregate and
    * the projection scan) and ZERO corpus shuffles — the eigensolve and
    * deflation run on d-/d²-row frames that broadcast, and the projection
    * folds row-locally ([[graft.functions.CenteredProjection]], exact
    * decimal sums) instead of re-keying the corpus by (row id, component).
    * At 100 TB both passes are scans; nothing is keyed by corpus rows. */
  def pcaProject(df: DataFrame, idCol: String, vecCol: String,
      p: Int = 2, iters: Int = 3): DataFrame = {
    require(p >= 1, s"need p >= 1; got $p")
    val comps = pcaComponents(df, vecCol, p, iters, needLambda = false).map(_._1)
    val coord = round(col("__s").cast("double"), 6)
    projectCentered(df, idCol, vecCol, comps)
      .select(col(idCol), col("component"),
        when(coord === 0.0, lit(0.0)).otherwise(coord).as("coord"))
  }

  /** The corpus-side half of [[pcaProject]] and [[pcaWhiten]]: every
    * centered embedding's raw (decimal-summed) coordinate on each of the
    * `comps` loadings, (idCol, component, __s). The projection folds
    * ROW-LOCALLY — means and per-component loading arrays ride ONE
    * broadcast row each, and CenteredProjection reproduces the exact
    * decimal quantization + sum of a groupBy(id, component) aggregation
    * without re-keying the corpus by row id. The corpus-side plan is
    * scan → project → explode(p). */
  private def projectCentered(df: DataFrame, idCol: String, vecCol: String,
                              comps: Seq[DataFrame]): DataFrame = {
    val meansArr = broadcast(dimMeans(df, vecCol)
      .agg(array_sort(collect_list(struct(col("d"), col("mean")))).as("__ms"))
      .select(transform(col("__ms"), x => x.getField("mean")).as("__means")))
    val loadArr = broadcast(comps.reduce(_ unionByName _)
      .groupBy("component")
      .agg(array_sort(collect_list(struct(col("d"), col("loading")))).as("__ls"))
      .select(col("component"),
        transform(col("__ls"), x => x.getField("loading")).as("__l"))
      .agg(array_sort(collect_list(struct(col("component"), col("__l"))))
        .as("__loads")))
    df.select(col(idCol), col(vecCol).cast("array<double>").as("__v"))
      .crossJoin(meansArr).crossJoin(loadArr)
      .select(col(idCol), explode(graft.functions.CenteredProjection
        .centeredProjection(col("__v"), col("__means"), col("__loads"))).as("e"))
      .select(col(idCol), col("e.component").as("component"), col("e.s").as("__s"))
  }

  /** PCA WHITENING — [[pcaProject]]'s coordinates rescaled to unit
    * variance per component: white_k = s_k / √λ_k, λ_k the component's
    * Rayleigh quotient against its extraction-time (deflated) covariance
    * — the decorrelated, isotropized embedding transform (ZCA-style up
    * to rotation) feeding similarity pipelines that assume comparable
    * scales per direction. The raw (unrounded) projection divides before
    * the single 6-dp quantization, and a non-positive λ (degenerate
    * direction) yields NULL rather than an infinity. Same corpus-side
    * plan as pcaProject: scan → row-local fold → explode(p); λ rides a
    * broadcast p-row table. Returns (idCol, component, white). */
  def pcaWhiten(df: DataFrame, idCol: String, vecCol: String,
      p: Int = 2, iters: Int = 3): DataFrame = {
    require(p >= 1, s"need p >= 1; got $p")
    val cl = pcaComponents(df, vecCol, p, iters)
    val lams = broadcast(cl.map(_._2).reduce(_ unionByName _)
      .select(col("component"), col("__lam")))
    val white = round(col("__s").cast("double") / sqrt(col("__lam")), 6)
    projectCentered(df, idCol, vecCol, cl.map(_._1))
      .join(lams, Seq("component"))
      .select(col(idCol), col("component"),
        when(col("__lam") <= 0.0, lit(null).cast("double"))
          .otherwise(when(white === 0.0, lit(0.0)).otherwise(white)).as("white"))
  }

  /** The k centroids as ONE collected row (cid-ascending array<struct<cid,
    * centroid>>) for the row-local argmin kernel — k is bounded (it is the
    * broadcast side by construction), so the collect_list is a k-row
    * 1-group aggregate, and the single row rides a broadcast. */
  private[pipeline] def centroidArray(cents: DataFrame): DataFrame =
    cents.agg(array_sort(collect_list(struct(
      col("cid").cast("long").as("cid"), col("centroid")))).as("__cents"))

  /** L2 argmin assignment — a NARROW projection: the broadcast centroid
    * array is folded row-locally by the codegen'd
    * [[graft.functions.NearestCentroid]] kernel (bit-identical arithmetic
    * and (distance asc, cid asc) winner as the old
    * crossJoin+groupBy(min(struct)) shape), so assignment costs ZERO
    * exchanges — the old form shuffled the whole corpus (vectors aboard)
    * once per call, once per k-means ITERATION. The n×k scored expansion
    * never exists as rows. Appends the kernel's struct<d, cid> winner to
    * `df` as `__s`; rows without one (null vector, empty centroid set)
    * are dropped. */
  private def nearestL2(df: DataFrame, vec: Column, cents: DataFrame): DataFrame =
    df.crossJoin(broadcast(centroidArray(cents)))
      .withColumn("__s", graft.functions.VectorFunctions.nearestCentroidL2(vec, col("__cents")))
      .where(col("__s.cid").isNotNull)
      .drop("__cents")

  /** (__id, __v, cid): the corpus with its k-means assignment. */
  private def assign(corpus: DataFrame, cents: DataFrame): DataFrame =
    nearestL2(corpus, col("__v"), cents)
      .select(col("__id"), col("__v"), col("__s.cid").as("cid"))
}

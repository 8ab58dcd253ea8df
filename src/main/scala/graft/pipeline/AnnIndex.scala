package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted ANN index lifecycle — the production shape of vector search
  * over a training corpus: TRAIN the quantizers and ENCODE the corpus once
  * (both corpus scans), SAVE the result as parquet, then SERVE every query
  * batch from the loaded index without ever touching the raw embeddings
  * again. At 100 TB the raw float corpus is the thing you cannot afford to
  * re-scan per query batch; the stored codes are m small integers + a list
  * id per vector (~50-100× smaller than a 1k-dim float32 embedding), and
  * the serving plan reads ONLY them — probe routing and ADC tables are
  * broadcast-sized ([[Quantization.ivfPqSearchCodes]]).
  *
  * The index layout is plain parquet (centroids / codebooks / codes /
  * meta), so the same files serve any engine that can replay the pinned
  * ADC arithmetic — the DuckDB oracle does exactly that.
  */
object AnnIndex {

  /** A trained IVF-PQ index. `centroids` (lcid, centroid) route queries
    * and anchor residuals; `codebooks` (s, cid, cw) decode ADC tables;
    * `codes` (id, lcid, sub, code) are the corpus' persisted
    * representation (m rows per vector); `m` is the subspace count the
    * codes were encoded with (queries must split the same way).
    * centroids/codebooks are eval-sized and broadcast at use; codes are
    * the only corpus-sized table. */
  final case class IvfPq(centroids: DataFrame, codebooks: DataFrame,
                         codes: DataFrame, m: Int)

  /** Train + encode: the two corpus scans a deployment pays ONCE per
    * corpus version. Same quantizer architecture as
    * [[Quantization.ivfPqIndex]] (fitted coarse Lloyd quantizer, residual
    * codebooks) plus the corpus code table ([[Quantization.ivfPqEncode]]).
    * Requires numeric ids below nlist+codewords to exist (seed
    * convention). */
  def buildIvfPq(corpus: DataFrame, idCol: String, vecCol: String,
                 nlist: Int = 16, m: Int = 16, codewords: Int = 256,
                 iters: Int = 2): IvfPq = {
    val (cent, cb) = Quantization.ivfPqIndex(
      corpus, idCol, vecCol, nlist, m, codewords, iters)
    IvfPq(cent, cb, encode(cent, cb, m, corpus, idCol, vecCol), m)
  }

  /** `batch` encoded against the quantizers into the stored code layout
    * (id, lcid, sub, code). */
  private def encode(centroids: DataFrame, codebooks: DataFrame, m: Int,
                     batch: DataFrame, idCol: String, vecCol: String): DataFrame =
    Quantization.ivfPqEncode(batch, idCol, vecCol, m, centroids, codebooks)
      .withColumnRenamed(idCol, "id")

  /** Persist the index under `path` as four parquet tables. `codes` is the
    * corpus-sized table and writes with whatever partitioning it arrives
    * with (at cluster scale: repartition by lcid first so a probed list is
    * a contiguous read). */
  def save(index: IvfPq, path: String): Unit = {
    index.centroids.write.mode("overwrite").parquet(s"$path/centroids.parquet")
    index.codebooks.write.mode("overwrite").parquet(s"$path/codebooks.parquet")
    index.codes.write.mode("overwrite").parquet(s"$path/codes.parquet")
    val spark = index.centroids.sparkSession
    import spark.implicits._
    Seq(index.m).toDF("m").coalesce(1)
      .write.mode("overwrite").parquet(s"$path/meta.parquet")
  }

  /** Load a saved index. Fails with Spark's usual path error when `path`
    * holds no index. */
  def load(spark: SparkSession, path: String): IvfPq = {
    val m = spark.read.parquet(s"$path/meta.parquet").head().getInt(0)
    IvfPq(
      spark.read.parquet(s"$path/centroids.parquet"),
      spark.read.parquet(s"$path/codebooks.parquet"),
      spark.read.parquet(s"$path/codes.parquet"), m)
  }

  /** Serve top-k from the index: identical results to
    * [[Quantization.ivfPqTopKWith]] over the corpus the index was built
    * from (pinned by spec), but the only corpus-sized input is the stored
    * code table. Returns (query_id, neighbor_id, dist, rank). */
  def search(index: IvfPq, queries: DataFrame, idCol: String, vecCol: String,
             k: Int, nprobe: Int = 8): DataFrame =
    Quantization.ivfPqSearchCodes(
      index.codes.withColumnRenamed("id", idCol), queries, idCol, vecCol,
      k, nprobe, index.m, index.centroids, index.codebooks)

  /** Incremental ingest — the daily-batch sibling of
    * [[Dedup.dedupIncrement]]: encode `batch` against the index's FROZEN
    * quantizers (no retraining, one batch-sized scan) and append the new
    * codes. Exactly equivalent to an index whose codes were encoded over
    * corpus ∪ batch with the same quantizers (pinned by spec) — the
    * standard production trade: assignments and codes stay optimal for
    * the training-time distribution and the index is rebuilt on drift,
    * but ingest never re-touches the existing corpus. Batch ids must not
    * collide with stored ids (content-addressed or monotone ids upstream;
    * a collision would double-count the vector at serve time). */
  def append(index: IvfPq, batch: DataFrame, idCol: String, vecCol: String): IvfPq =
    index.copy(codes = index.codes.unionByName(
      encode(index.centroids, index.codebooks, index.m, batch, idCol, vecCol)))

  /** Delete vectors from the index — the GDPR/right-to-forget and
    * corpus-refresh path that completes the lifecycle next to [[append]]:
    * the stored codes for `ids` (a 1-column frame of vector ids) are
    * dropped with one anti-join on the code table; quantizers are
    * untouched (same frozen-quantizer trade as append — centroids and
    * codebooks reflect the training-time distribution until a rebuild).
    * Serving the result is exactly serving an index whose corpus never
    * contained those vectors, because scoring touches only code rows.
    * No tombstones: the id is physically absent after the next [[save]]. */
  def remove(index: IvfPq, ids: DataFrame): IvfPq = {
    val del = ids.select(col(ids.columns.head).cast("long").as("id"))
    index.copy(codes = index.codes.join(del, Seq("id"), "left_anti"))
  }

  /** [[append]] against a SAVED index: encode `batch` with the stored
    * quantizers and APPEND the codes to the index's parquet code table —
    * the `foreachBatch` hook for streaming embedding ingest (each
    * micro-batch pays one batch-sized encode scan; quantizers stay
    * frozen, the same trade as [[append]]). Parquet append is atomic per
    * file; a re-run of a failed micro-batch would double its codes, so
    * drive it from an exactly-once sink (foreachBatch with checkpointing
    * dedupes by batch id upstream). */
  def appendSave(spark: SparkSession, path: String, batch: DataFrame,
                 idCol: String, vecCol: String): Unit = {
    val idx = load(spark, path)
    encode(idx.centroids, idx.codebooks, idx.m, batch, idCol, vecCol)
      .write.mode("append").parquet(s"$path/codes.parquet")
  }
}

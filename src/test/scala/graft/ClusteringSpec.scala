package graft

import org.apache.spark.sql.functions._
import graft.pipeline.Clustering

class ClusteringSpec extends SparkSuite {
  import spark.implicits._

  // two tight blobs far apart; seeds 0 and 1 land one in each blob
  private def blobs = Seq(
    (0L, Array(0.0f, 0.1f)), (2L, Array(0.1f, 0.0f)), (4L, Array(0.05f, 0.05f)),
    (1L, Array(10.0f, 10.1f)), (3L, Array(10.1f, 10.0f)), (5L, Array(10.05f, 10.05f)))
    .toDF("vec_id", "embedding")

  test("silhouetteReport: hand-computed micro scores on a 1-d line, floor-division means") {
    // iters = 0 keeps the seeds (ids 1, 2) as centroids: c1 = 0, c2 = 10.
    //   v1 (0):  a = 0, b = 10 → s = 1.0        → 1000000
    //   v3 (1):  a = 1, b = 9  → s = 8/9        → 888889
    //   v4 (4):  a = 4, b = 6  → s = 1/3        → 333333
    //   v2 (10): a = 0, b = 10 → s = 1.0        → 1000000
    //   v5 (6):  a = 4, b = 6  → s = 1/3        → 333333
    val vecs = Seq(
      (1L, Array(0.0f, 0.0f)), (2L, Array(10.0f, 0.0f)),
      (3L, Array(1.0f, 0.0f)), (4L, Array(4.0f, 0.0f)), (5L, Array(6.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    val out = Clustering.silhouetteReport(vecs, "vec_id", "embedding", k = 2, iters = 0)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    // cluster 1 = {v1, v3, v4}: sum 2222222, mean floor(740740.67) = 740740
    // cluster 2 = {v2, v5}:     sum 1333333, mean floor(666666.5)  = 666666
    assert(out == Map(
      1L -> ((3L, 2222222L, 740740L)),
      2L -> ((2L, 1333333L, 666666L))), s"got $out")
    // degenerate: identical centroids and points → a = b = 0 scores 0
    val flat = Seq((1L, Array(5.0f)), (2L, Array(5.0f)), (3L, Array(5.0f)))
      .toDF("vec_id", "embedding")
    val z = Clustering.silhouetteReport(flat, "vec_id", "embedding", k = 2, iters = 0)
      .agg(sum("sum_sil_micro")).collect()(0).getLong(0)
    assert(z == 0L, s"got $z")
  }

  test("kmeans separates well-separated blobs and is deterministic") {
    val a = Clustering.kmeans(blobs, "vec_id", "embedding", k = 2, iters = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(a(0L) == 0L && a(2L) == 0L && a(4L) == 0L)
    assert(a(1L) == 1L && a(3L) == 1L && a(5L) == 1L)
    val b = Clustering.kmeans(blobs, "vec_id", "embedding", k = 2, iters = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(a == b)
  }

  test("kmeans, assignTo, centroidOutliers and clusterPrototypes give every vector the same cid") {
    // three loose blobs at irregular offsets, no two points equidistant
    // from a centroid; seeds 0, 1, 2 start one in each blob
    val vecs = Seq(
      (0L, Array(0.3f, 0.1f)), (1L, Array(5.2f, 4.9f)), (2L, Array(9.7f, 0.4f)),
      (3L, Array(1.1f, 0.7f)), (4L, Array(6.3f, 5.6f)), (5L, Array(8.6f, 1.3f)),
      (6L, Array(0.2f, 1.9f)), (7L, Array(4.1f, 6.2f)), (8L, Array(10.4f, 2.2f)),
      (9L, Array(2.3f, 0.05f)))
      .toDF("vec_id", "embedding")
    val (k, iters, n) = (3, 2, 10)
    def cids(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
      df.select(col("vec_id"), col("cid")).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val km = cids(Clustering.kmeans(vecs, "vec_id", "embedding", k, iters))
    assert(km.size == n && km.values.toSet == Set(0L, 1L, 2L), s"got $km")
    val cents = Clustering.kmeansCentroids(vecs, "vec_id", "embedding", k, iters)
    assert(cids(Clustering.assignTo(vecs, "vec_id", "embedding", cents)) == km)
    val outliers = Clustering.centroidOutliers(vecs, "vec_id", "embedding", k, iters, topN = n)
    assert(cids(outliers) == km)
    assert(outliers.select("dist2").distinct().count() == n, "fixture has tied distances")
    assert(cids(Clustering.clusterPrototypes(vecs, "vec_id", "embedding", k, iters,
      perCluster = n)) == km)
  }

  test("centroids converge to the blob means") {
    val c = Clustering.kmeansCentroids(blobs, "vec_id", "embedding", k = 2, iters = 3)
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    assert(math.abs(c(0L)(0) - 0.05) < 1e-6 && math.abs(c(0L)(1) - 0.05) < 1e-6)
    assert(math.abs(c(1L)(0) - 10.05) < 1e-6 && math.abs(c(1L)(1) - 10.05) < 1e-6)
  }

  test("a cluster that captures no points keeps its previous centroid") {
    // seed 1 is a duplicate of seed 0's position, so every point prefers
    // cid 0 (distance tie -> smaller cid) and cluster 1 goes empty
    val degenerate = Seq(
      (0L, Array(0.0f, 0.0f)), (1L, Array(0.0f, 0.0f)), (2L, Array(1.0f, 1.0f)))
      .toDF("vec_id", "embedding")
    val c = Clustering.kmeansCentroids(degenerate, "vec_id", "embedding", k = 2, iters = 2)
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    assert(c(1L) == Seq(0.0, 0.0)) // retained, not dropped or nulled
    assert(c.size == 2)
  }
}

package graft.pipeline

import graft.SparkSuite
import org.apache.spark.sql.functions._

/** Pins the hot-bucket bound of [[Dedup.bandedCandidates]] (round 15):
  * boilerplate shingles grow LSH bucket sizes linearly with the corpus, so
  * the unbounded bucket self-join proposed pairs QUADRATICALLY (measured on
  * the 100x probe corpus: top bucket 128 → 13 057 docs, proposed pairs
  * 245 k → 497 M). Buckets above maxBucket drop before the self-join; a
  * true pair survives unless EVERY band it collides in is hot. */
class BucketCapSpec extends SparkSuite {

  test("bandedCandidates: hot buckets drop, multi-band pairs survive") {
    import spark.implicits._
    // 8 docs; band-0 signature "HOT" shared by ALL (the boilerplate
    // bucket); docs 1 and 2 ALSO share band-1 signature "x12" (their
    // private collision); everyone else's other bands are unique
    val perDoc = (1 to 8).map { i =>
      val h1 = if (i == 1 || i == 2) "x12" else s"u$i"
      (i.toLong.toString, "HOT", h1, s"v$i", s"w$i")
    }.toDF("doc", "h0", "h1", "h2", "h3")
    // unbounded: the HOT bucket alone proposes C(8,2) = 28 pairs
    val all = Dedup.bandedCandidates(perDoc, k = 4, maxBucket = 0).collect()
    assert(all.length == 28, s"got ${all.length}")
    // cap 4: the HOT bucket (8 members) drops; only the band-1 collision
    // of docs 1 and 2 survives — the pair with a second, cold band
    val capped = Dedup.bandedCandidates(perDoc, k = 4, maxBucket = 4).collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(capped == Set(("1", "2")), s"got $capped")
    // cap >= bucket size: bit-identical to unbounded (the gate/bench case)
    val loose = Dedup.bandedCandidates(perDoc, k = 4, maxBucket = 8).collect()
    assert(loose.length == 28, s"got ${loose.length}")
  }

  test("minhashCandidatePairs: a boilerplate bucket over the cap proposes no pairs") {
    import spark.implicits._
    // 1 030 copies of one text fill each of its four band buckets past the
    // default cap of 1 024; one exact pair of another text shares buckets
    // of size 2. The oracle (dedup_minhash_pairs) keeps only that pair.
    val boiler = "shared footer text copied onto every page of the site"
    val docs = ((1L to 1030L).map(i => (i, boiler)) ++
      Seq((2001L, "a private note written twice by one author"),
        (2002L, "a private note written twice by one author"))).toDF("doc_id", "text")
    val pairs = Dedup.minhashCandidatePairs(docs, "doc_id", "text", k = 4)
    assert(pairs.count() == 1L, s"got ${pairs.count()} candidate pairs")
    assert(pairs.where(col("a") === 2001L && col("b") === 2002L).count() == 1L)
  }
}

package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.GraftCacheProbe.cachedEntryCount
import org.apache.spark.sql.functions._
import graft.analytics.GraphAnalytics
import graft.model.PropValue
import graft.pipeline.{ConnectedComponents, Curation, Dedup}
import graft.store.GraphBatch

/** The materialization module's contract: scoped persists are released
  * on every exit path, the analytics and curation operators the benchmark
  * drives leave no session cache entry behind, and no other module of
  * the engine materializes on its own. */
class MaterializeSpec extends SparkSuite {

  test("using releases its frame on a normal return and when the body throws") {
    val before = cachedEntryCount(spark)
    val n = Materialize.using(spark.range(10).toDF("id"), fill = true) { df =>
      assert(cachedEntryCount(spark) == before + 1, "using did not persist its frame")
      df.count()
    }
    assert(n == 10L)
    assert(cachedEntryCount(spark) == before, "using leaked its frame on return")
    val thrown = intercept[IllegalStateException] {
      Materialize.using(spark.range(20).toDF("id")) { df =>
        assert(cachedEntryCount(spark) == before + 1, "using did not persist its frame")
        df.count()
        throw new IllegalStateException("body failed")
      }
    }
    assert(thrown.getMessage == "body failed")
    assert(cachedEntryCount(spark) == before, "using leaked its frame when the body threw")
  }

  test("analytics and curation operators leave the session cache as they found it") {
    import spark.implicits._
    // two triangles joined by a bridge plus a loner (the AnalyticsSpec shape)
    val b = new GraphBatch
    Seq("a", "b", "c", "d", "e", "f", "lone").foreach(n =>
      b.createNode(s"v:$n", PropValue.typed("N", Some(n))))
    Seq(("a", "b"), ("b", "c"), ("c", "a"), ("d", "e"), ("e", "f"), ("f", "d"), ("c", "d"))
      .foreach { case (s, d) => b.createEdge(s"v:$s", s"v:$d", PropValue("E")) }
    val g = b.toStore(spark)
    val toLong: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
      id => coalesce(ascii(substring(id, 3, 1)).cast("long"), lit(0L))
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 1L), (1L, 4L), (2L, 4L), (3L, 4L), (4L, 5L),
      (6L, 7L)).toDF("a", "b")
    val sym = pairs.select(col("a").as("src"), col("b").as("dst"))
      .unionByName(pairs.select(col("b").as("src"), col("a").as("dst")))
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy dog"),
      (3L, "the quick brown fox jumps over the lazy cat"),
      (4L, "completely different content about spark engines and data")).toDF("doc_id", "text")
    val bench = Seq((100L, "completely different content about spark")).toDF("doc_id", "text")
    val packRows = Seq((1L, 300L, 0L), (2L, 300L, 0L), (3L, 100L, 1L)).toDF("doc_id", "n_words", "shard")
    val seeds = Seq(97L).toDF("vid")
    val calls: Seq[(String, () => Any)] = Seq(
      "pageRankDF" -> (() => GraphAnalytics.pageRankDF(g, toLong, numIter = 3).collect()),
      "personalizedPageRankDF" -> (() =>
        GraphAnalytics.personalizedPageRankDF(g, toLong, seeds, numIter = 3).collect()),
      "labelPropagationDF" -> (() => GraphAnalytics.labelPropagationDF(g, toLong, rounds = 3).collect()),
      "shortestPathsDF" -> (() => GraphAnalytics.shortestPathsDF(g, toLong, Seq(97L, 100L)).collect()),
      "hitsDF" -> (() => GraphAnalytics.hitsDF(g, toLong, numIter = 2).collect()),
      "triangleCountDF" -> (() => GraphAnalytics.triangleCountDF(g, toLong).collect()),
      "kCore" -> (() => GraphAnalytics.kCore(pairs, k = 3).collect()),
      "ConnectedComponents.labels" -> (() => ConnectedComponents.labels(pairs).collect()),
      "randomWalks" -> (() => GraphAnalytics.randomWalks(sym, walkLen = 4, seed = "w").collect()),
      "ngramJaccardViaMinhash" -> (() =>
        Dedup.ngramJaccardViaMinhash(docs, "doc_id", "text", minSim = 0.5).collect()),
      "decontaminate" -> (() => Curation.decontaminate(docs, bench, "doc_id", "text", n = 5).collect()),
      "packSequences" -> (() =>
        Curation.packSequences(packRows, "doc_id", "n_words", "shard", budget = 512L).collect()))
    calls.foreach { case (name, call) =>
      val before = cachedEntryCount(spark)
      call()
      assert(cachedEntryCount(spark) == before, s"$name changed the session cache entry count")
    }
  }

  private val mainRoot = Paths.get("src/main/scala")

  /** Every `src/main` Scala source with its raw text. */
  private def mainFiles: List[(Path, String)] = {
    assert(Files.isDirectory(mainRoot), s"source tree not found under ${mainRoot.toAbsolutePath}")
    val walk = Files.walk(mainRoot)
    val sources = try walk.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
    finally walk.close()
    sources.map(p => p -> new String(Files.readAllBytes(p), "UTF-8"))
  }

  /** Every `src/main` Scala source with its numbered code lines: block
    * comments blanked (newlines kept, so line numbers hold), line
    * comments cut. */
  private def mainSources: List[(Path, Seq[(String, Int)])] =
    mainFiles.map { case (p, raw) =>
      val text = """(?s)/\*.*?\*/""".r.replaceAllIn(raw,
        m => m.matched.replaceAll("[^\n]", " "))
      p -> text.split("\n", -1).toSeq.zipWithIndex.map { case (l, i) =>
        (l.indexOf("//") match { case -1 => l; case k => l.take(k) }, i + 1)
      }
    }

  test("no scaladoc block is stacked directly on another (scaladoc keeps only the last)") {
    // a /** … */ followed by nothing but whitespace and then another /**:
    // the first block documents nothing and hides from the generated docs
    val stacked = """(?s)/\*\*.*?\*/\s*(/\*\*)""".r
    val offenders = for {
      (p, raw) <- mainFiles
      m <- stacked.findAllMatchIn(raw)
    } yield s"${mainRoot.relativize(p)}:${raw.take(m.start(1)).count(_ == '\n') + 1}"
    assert(offenders.isEmpty, offenders.mkString("scaladoc stacked on another scaladoc:\n", "\n", ""))
  }

  test("no module but graft.Materialize checkpoints, persists or unpersists") {
    val call = """localCheckpoint\(|\.persist\(|\.cache\(\)|\.unpersist\(""".r
    val sources = mainSources
    val offenders = for {
      (p, lines) <- sources if p.getFileName.toString != "Materialize.scala"
      (line, n) <- lines if call.findFirstIn(line).isDefined
    } yield s"${mainRoot.relativize(p)}:$n: ${line.trim}"
    assert(sources.exists(_._1.getFileName.toString == "Materialize.scala"))
    assert(offenders.isEmpty, offenders.mkString("materialization outside graft.Materialize:\n", "\n", ""))
  }

  test("no src/main module uses org.apache.spark.graphx (GraphX is the test oracle)") {
    val offenders = for {
      (p, lines) <- mainSources
      (line, n) <- lines if line.contains("org.apache.spark.graphx")
    } yield s"${mainRoot.relativize(p)}:$n: ${line.trim}"
    assert(offenders.isEmpty, offenders.mkString("GraphX in the engine:\n", "\n", ""))
  }
}

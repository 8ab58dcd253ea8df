package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Round-10 empirical scale-up probe (VERDICT r9 next-round item 3):
  * replicate sf0.1 documents/embeddings ~10x with perturbed ids, run the
  * flagship entries once at 1x and 10x, and report the scaling exponent
  * log10(t10/t1). Each replica's words carry a copy prefix so the corpus
  * is 10 INDEPENDENT copies of the original near-dup structure (pair
  * counts scale linearly, like a real 10x corpus) instead of 10-cliques
  * of artificial cross-copy duplicates. */
object ScaleProbe {
  def main(args: Array[String]): Unit = {
    val spark = graft.GraftSession("local[32]", 64, appName = "graft-scale-probe")
    val base = "/root/testdata/sf0.1"
    val big = "target/scaleprobe/sf10x"

    if (args.headOption.contains("build")) {
      val docs = spark.read.parquet(s"$base/documents.parquet")
      val embs = spark.read.parquet(s"$base/embeddings.parquet")
      val docsN = (0 until 10).map { c =>
        docs.select(
          (col("doc_id") + lit(c.toLong * 10000000L)).as("doc_id"),
          concat_ws(" ", transform(split(col("text"), " "),
            w => concat(lit(s"c${c}x"), w))).as("text"),
          col("lang"), col("source"), col("n_chars"))
      }.reduce(_ unionByName _)
      docsN.repartition(64).write.mode("overwrite").parquet(s"$big/documents.parquet")
      val embsN = (0 until 10).map { c =>
        embs.select((col("vec_id") + lit(c.toLong * 10000000L)).as("vec_id"),
          col("embedding"), col("label"))
      }.reduce(_ unionByName _)
      embsN.repartition(16).write.mode("overwrite").parquet(s"$big/embeddings.parquet")
      println(s"MARKER built docs=${spark.read.parquet(s"$big/documents.parquet").count()}" +
        s" embs=${spark.read.parquet(s"$big/embeddings.parquet").count()}")
      spark.stop(); return
    }

    def time(name: String)(f: => Long): Unit = {
      val t0 = System.nanoTime(); val rows = f
      println(f"MARKER $name rows=$rows time=${(System.nanoTime() - t0) / 1e9}%.2f")
    }

    val big100 = "target/scaleprobe/sf100x"
    if (args.headOption.contains("build100")) {
      // 100 INDEPENDENT copies (per-copy word prefix, like the 10x build):
      // pair/cluster volume scales linearly by construction, so any
      // super-linear probe time is the ENGINE's, not the workload's
      val docs = spark.read.parquet(s"$base/documents.parquet")
      val embs = spark.read.parquet(s"$base/embeddings.parquet")
      val docsN = (0 until 100).map { c =>
        docs.select(
          (col("doc_id") + lit(c.toLong * 10000000L)).as("doc_id"),
          concat_ws(" ", transform(split(col("text"), " "),
            w => concat(lit(s"c${c}x"), w))).as("text"),
          col("lang"), col("source"), col("n_chars"))
      }.reduce(_ unionByName _)
      docsN.repartition(64).write.mode("overwrite").parquet(s"$big100/documents.parquet")
      val embsN = (0 until 100).map { c =>
        embs.select((col("vec_id") + lit(c.toLong * 10000000L)).as("vec_id"),
          col("embedding"), col("label"))
      }.reduce(_ unionByName _)
      embsN.repartition(32).write.mode("overwrite").parquet(s"$big100/embeddings.parquet")
      println(s"MARKER built docs=${spark.read.parquet(s"$big100/documents.parquet").count()}" +
        s" embs=${spark.read.parquet(s"$big100/embeddings.parquet").count()}")
      spark.stop(); return
    }

    if (args.headOption.contains("wave100")) {
      // VERDICT r11 item 4: 100x arms for the three flagship claims. Runs
      // 1x first (codegen warm), then 10x AND 100x so the 10->100 decade
      // factor is measured in the same JVM as the 1->10 one.
      val qs = graft.SparkEntry.queries
      for (name <- Seq("curate_neardup_corpus", "curate_funnel_rare")) {
        graft.Memo.bust(graft.Memo.Shared, spark, base)
        qs(name)(spark, base).count() // warm
        for ((dir, tag) <- Seq((base, "1x"), (big, "10x"), (big100, "100x"))) {
          graft.Memo.bust(graft.Memo.Shared, spark, dir)
          time(s"${name}_$tag") { qs(name)(spark, dir).count() }
        }
      }
      for ((dir, tag) <- Seq((base, "1x"), (big, "10x"), (big100, "100x"))) {
        val e = TpchGraph.table(spark, dir, "embeddings")
        val idxDir = s"target/scaleprobe/annidx100_$tag"
        graft.pipeline.AnnIndex.save(
          graft.pipeline.AnnIndex.buildIvfPq(e, "vec_id", "embedding",
            nlist = 16, m = 4, codewords = 16), idxDir)
        val loaded = graft.pipeline.AnnIndex.load(spark, idxDir)
        graft.pipeline.AnnIndex.search(loaded, e.where(col("vec_id") < 5),
          "vec_id", "embedding", k = 3, nprobe = 4).count() // warm
        time(s"ann_serve_$tag") {
          graft.pipeline.AnnIndex.search(loaded, e.where(col("vec_id") < 5),
            "vec_id", "embedding", k = 3, nprobe = 4).count()
        }
      }
      spark.stop(); return
    }

    if (args.headOption.contains("bfd")) {
      // VERDICT r12 item 4: the promised BFD fill-ratio table — mean fill
      // % and bins used for BFD vs arrival-order (same whole-doc packer,
      // id order) vs the chop baseline (packSequences), sf0.1 inputs
      // identical to the bench entries (512-token bins, doc_id % 8).
      val docs = TpchGraph.table(spark, base, "documents")
        .select(col("doc_id"),
          graft.pipeline.TextAnalysis.wordCount(col("text")).cast("long").as("n_words"),
          (col("doc_id") % 8).as("shard"))
        .persist()
      val totalTokens = docs.agg(sum("n_words")).first().getLong(0)
      def report(tag: String, packed: DataFrame, binCol: String): Unit = {
        val bins = packed.select(col("shard"), col(binCol)).distinct().count()
        val fillPct = 100.0 * totalTokens / (bins * 512.0)
        println(f"MARKER bfd_$tag bins=$bins fill=$fillPct%.2f total_tokens=$totalTokens")
      }
      report("chop", graft.pipeline.Curation.packSequences(
        docs, "doc_id", "n_words", "shard", budget = 512L), "chunk")
      report("arrival", graft.pipeline.Curation.packBinsBfd(
        docs, "doc_id", "n_words", "shard", budget = 512L, decreasing = false), "bin")
      report("bfd", graft.pipeline.Curation.packBinsBfd(
        docs, "doc_id", "n_words", "shard", budget = 512L), "bin")
      docs.unpersist()
      spark.stop(); return
    }

    if (args.headOption.contains("walks100")) {
      // VERDICT r12 item 1: the walk family's 100x arms (the round-12
      // rewrite's behavior at 100x was extrapolated, not measured). Same
      // disjoint-copy construction as the walks arm: walk count and pair
      // volume scale linearly by design, so any super-linear time is the
      // engine's. Runs the two gate shapes — graph_random_walks (len 4)
      // and graph_walk_pairs_long (len 40 + window-5 pairs, composed like
      // the driver entry, walk build included).
      val li = spark.read.parquet(s"$base/lineitem.parquet")
        .select(col("l_orderkey").as("o"), col("l_partkey").as("p"))
      val pairs = li.join(li.select(col("o"), col("p").as("p2")), Seq("o"))
        .where(col("p") < col("p2"))
        .groupBy(col("p").as("a"), col("p2").as("b"))
        .agg(countDistinct("o").as("w"))
        .where(col("w") >= 2)
      val sym = pairs.select(col("a").as("src"), col("b").as("dst"))
        .unionByName(pairs.select(col("b").as("src"), col("a").as("dst")))
        .persist()
      sym.count()
      def copies(nc: Int) = (0 until nc).map(c =>
        sym.select((col("src") + lit(c.toLong * 10000000L)).as("src"),
          (col("dst") + lit(c.toLong * 10000000L)).as("dst")))
        .reduce(_ unionByName _)
      // warm codegen on the 1x plans once
      graft.analytics.GraphAnalytics.randomWalks(copies(1), walkLen = 4).count()
      for ((nc, tag) <- Seq((1, "1x"), (10, "10x"), (100, "100x"))) {
        // coalesce: see the neg100 arm — k-way-union partition fan-out is
        // a harness artifact, not the operator's input shape
        val e = copies(nc).coalesce(64).persist(); e.count()
        time(s"graph_random_walks_$tag") {
          graft.analytics.GraphAnalytics.randomWalks(e, walkLen = 4).count()
        }
        time(s"graph_walk_pairs_long_$tag") {
          graft.analytics.GraphAnalytics.walkSkipGramPairs(
            graft.analytics.GraphAnalytics.randomWalks(e, walkLen = 40),
            window = 5).count()
        }
        e.unpersist()
      }
      spark.stop(); return
    }

    if (args.headOption.contains("neg100")) {
      // round-13: the SGNS negatives operator in isolation at 1x/10x/100x
      // — disjoint offset copies of the sf0.1 walk-pair table, so pair
      // volume AND vocabulary (ladder size, bucket count) scale 100x.
      // Exercises the new machinery end-to-end: context marginal, the
      // two-phase prefix-sum ladder, and the binned slot join.
      val li = spark.read.parquet(s"$base/lineitem.parquet")
        .select(col("l_orderkey").as("o"), col("l_partkey").as("p"))
      val cp = li.join(li.select(col("o"), col("p").as("p2")), Seq("o"))
        .where(col("p") < col("p2"))
        .groupBy(col("p").as("a"), col("p2").as("b"))
        .agg(countDistinct("o").as("w"))
        .where(col("w") >= 2)
      val sym = cp.select(col("a").as("src"), col("b").as("dst"))
        .unionByName(cp.select(col("b").as("src"), col("a").as("dst")))
      val pairs1 = graft.analytics.GraphAnalytics.walkSkipGramPairs(
        graft.analytics.GraphAnalytics.randomWalks(sym, walkLen = 4), window = 2)
        .persist()
      pairs1.count()
      def pCopies(n: Int) = (0 until n).map(c =>
        pairs1.select((col("center") + lit(c.toLong * 10000000L)).as("center"),
          (col("context") + lit(c.toLong * 10000000L)).as("context"), col("n_pairs")))
        .reduce(_ unionByName _)
      graft.analytics.GraphAnalytics.sgnsNegatives(pCopies(1), k = 3).count() // warm
      for ((n, tag) <- Seq((1, "1x"), (10, "10x"), (100, "100x"))) {
        // coalesce: a k-way test union otherwise persists at k*64
        // partitions and every map stage pays k*64 task overheads — a
        // harness artifact; a real 100x pair table arrives at the
        // session's shuffle parallelism
        val p = pCopies(n).coalesce(64).persist(); p.count()
        time(s"sgns_negatives_$tag") {
          graft.analytics.GraphAnalytics.sgnsNegatives(p, k = 3).count()
        }
        p.unpersist()
      }
      pairs1.unpersist()
      spark.stop(); return
    }

    if (args.headOption.contains("n2v100")) {
      // round-13: second-order node2vec at 1x/10x/100x over disjoint
      // co-purchase copies — the per-hop degree-expanded candidate frame
      // is the scale-relevant shape (it carries Σ deg(cur) rows, not one
      // row per walk like the first-order walks)
      val li = spark.read.parquet(s"$base/lineitem.parquet")
        .select(col("l_orderkey").as("o"), col("l_partkey").as("p"))
      val cp = li.join(li.select(col("o"), col("p").as("p2")), Seq("o"))
        .where(col("p") < col("p2"))
        .groupBy(col("p").as("a"), col("p2").as("b"))
        .agg(countDistinct("o").as("w")).where(col("w") >= 2)
      val sym = cp.select(col("a").as("src"), col("b").as("dst"))
        .unionByName(cp.select(col("b").as("src"), col("a").as("dst")))
        .persist()
      sym.count()
      def copies(nc: Int) = (0 until nc).map(c =>
        sym.select((col("src") + lit(c.toLong * 10000000L)).as("src"),
          (col("dst") + lit(c.toLong * 10000000L)).as("dst")))
        .reduce(_ unionByName _)
      graft.analytics.GraphAnalytics.node2vecWalks(copies(1), walkLen = 4,
        retMilli = 250, outMilli = 2000).count() // warm
      for ((nc, tag) <- Seq((1, "1x"), (10, "10x"), (100, "100x"))) {
        val e = copies(nc).coalesce(64).persist(); e.count()
        time(s"graph_node2vec_walks_$tag") {
          graft.analytics.GraphAnalytics.node2vecWalks(e, walkLen = 4,
            retMilli = 250, outMilli = 2000).count()
        }
        e.unpersist()
      }
      spark.stop(); return
    }

    if (args.headOption.contains("qa100")) {
      // round-13 second wave QA metrics at 1x/10x/100x over disjoint
      // copies: silhouette (corpus x k-centroid expansion + one vec-keyed
      // window exchange), assortativity (degree decoration joins), and
      // modularity (label decoration + groupBy(label) rollup, synthetic
      // vid%1024 communities so the metric is timed, not the LPA fit)
      val embs = spark.read.parquet(s"$base/embeddings.parquet")
      def eCopies(n: Int) = (0 until n).map(c =>
        embs.select((col("vec_id") + lit(c.toLong * 10000000L)).as("vec_id"),
          col("embedding"))).reduce(_ unionByName _)
      graft.pipeline.Clustering.silhouetteReport(eCopies(1), "vec_id", "embedding",
        k = 8, iters = 2).count() // warm
      for ((n, tag) <- Seq((1, "1x"), (10, "10x"), (100, "100x"))) {
        val e = eCopies(n).coalesce(64).persist(); e.count()
        time(s"embedding_silhouette_$tag") {
          graft.pipeline.Clustering.silhouetteReport(e, "vec_id", "embedding",
            k = 8, iters = 2).count()
        }
        e.unpersist()
      }
      val li = spark.read.parquet(s"$base/lineitem.parquet")
        .select(col("l_orderkey").as("o"), col("l_partkey").as("p"))
      val cp = li.join(li.select(col("o"), col("p").as("p2")), Seq("o"))
        .where(col("p") < col("p2"))
        .groupBy(col("p").as("a"), col("p2").as("b"))
        .agg(countDistinct("o").as("w")).where(col("w") >= 2)
      val sym = cp.select(col("a"), col("b"))
        .unionByName(cp.select(col("b").as("a"), col("a").as("b"))).persist()
      sym.count()
      def sCopies(n: Int) = (0 until n).map(c =>
        sym.select((col("a") + lit(c.toLong * 10000000L)).as("a"),
          (col("b") + lit(c.toLong * 10000000L)).as("b")))
        .reduce(_ unionByName _)
      graft.analytics.GraphAnalytics.assortativity(sCopies(1)).count() // warm
      for ((n, tag) <- Seq((1, "1x"), (10, "10x"), (100, "100x"))) {
        val e = sCopies(n).coalesce(64).persist(); e.count()
        time(s"graph_assortativity_$tag") {
          graft.analytics.GraphAnalytics.assortativity(e).count()
        }
        val labels = e.select(col("a").as("vid")).distinct()
          .select(col("vid"), (col("vid") % 1024).as("label")).persist()
        labels.count()
        time(s"graph_modularity_$tag") {
          graft.analytics.GraphAnalytics.modularityByCommunity(labels, e).count()
        }
        labels.unpersist(); e.unpersist()
      }
      sym.unpersist()
      spark.stop(); return
    }

    if (args.headOption.contains("parked")) {
      // VERDICT r12 item 2 measurement: len-40 walks over a SINK-HEAVY
      // synthetic graph (40% of nodes have no out-edges, dst uniform over
      // all nodes, so ~40% of live walks die per hop — nearly every walk
      // is finished within a few hops). Pins the cost of carrying parked
      // walks through the remaining hop joins; run before/after the
      // parked-walk split to record the delta.
      val n = 1000000L
      val liveN = n * 6 / 10
      val e = spark.range(liveN).select(col("id").as("src"))
        .withColumn("j", explode(array(lit(1), lit(2))))
        .select(col("src"),
          (conv(substring(md5(concat_ws("|", lit("pk"),
              col("src").cast("string"), col("j").cast("string"))), 1, 12), 16, 10)
            .cast("long") % n).as("dst"))
        .persist()
      e.count()
      graft.analytics.GraphAnalytics.randomWalks(e, walkLen = 4).count() // warm
      time("walks_sinkheavy_len40") {
        graft.analytics.GraphAnalytics.randomWalks(e, walkLen = 40).count()
      }
      e.unpersist()
      spark.stop(); return
    }

    if (args.headOption.contains("serve")) {
      // persisted-index serving arm: build+save is the untimed one-time
      // cost; the timed path is load + search over the stored codes (the
      // corpus-sized serving input), same 5 queries at both scales
      for ((dir, tag) <- Seq((base, "1x"), (big, "10x"))) {
        val e = TpchGraph.table(spark, dir, "embeddings")
        val idxDir = s"target/scaleprobe/annidx_$tag"
        graft.pipeline.AnnIndex.save(
          graft.pipeline.AnnIndex.buildIvfPq(e, "vec_id", "embedding",
            nlist = 16, m = 4, codewords = 16), idxDir)
        val loaded = graft.pipeline.AnnIndex.load(spark, idxDir)
        // warm codegen once so the 1x number is not all JIT
        graft.pipeline.AnnIndex.search(loaded, e.where(col("vec_id") < 5),
          "vec_id", "embedding", k = 3, nprobe = 4).count()
        time(s"ann_serve_$tag") {
          graft.pipeline.AnnIndex.search(loaded, e.where(col("vec_id") < 5),
            "vec_id", "embedding", k = 3, nprobe = 4).count()
        }
      }
      spark.stop(); return
    }

    if (args.headOption.contains("graphiter")) {
      // iterative-arm decomposition (VERDICT r10 item 5): the pagerank /
      // walk exponents (0.45-0.59) mix a PER-ROUND FIXED COST (job
      // scheduling, checkpoint materialization — constant in data size)
      // with the true data term. Vary the ROUND COUNT at each scale:
      //   round_cost(scale) = (t_long - t_short) / extra_rounds
      // subtracts the setup/assembly cost entirely, and the round-cost
      // ratio 10x/1x is the data-term exponent the totals blur. Job
      // counts come from the scheduler listener.
      val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
      spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
          jobs.incrementAndGet(); ()
        }
      })
      val li = spark.read.parquet(s"$base/lineitem.parquet")
        .select(col("l_orderkey").as("o"), col("l_partkey").as("p"))
      val pairs = li.join(li.select(col("o"), col("p").as("p2")), Seq("o"))
        .where(col("p") < col("p2"))
        .groupBy(col("p").as("a"), col("p2").as("b"))
        .agg(countDistinct("o").as("w"))
        .where(col("w") >= 2)
      val sym = pairs.select(col("a").as("src"), col("b").as("dst"))
        .unionByName(pairs.select(col("b").as("src"), col("a").as("dst")))
        .persist()
      sym.count()
      def copies(nc: Int) = (0 until nc).map(c =>
        sym.select((col("src") + lit(c.toLong * 10000000L)).as("src"),
          (col("dst") + lit(c.toLong * 10000000L)).as("dst")))
        .reduce(_ unionByName _)
      import graft.model.GraphStore
      def store(e: DataFrame): GraphStore = {
        val verts = e.select(col("src").as("n")).unionByName(e.select(col("dst").as("n")))
          .distinct().select(col("n").cast("string").as("id"))
        val props = spark.range(0).select(col("id").cast("string").as("hash"),
          col("id").cast("string").as("value"), col("id").cast("string").as("schema_type"))
        val pc = spark.range(0).select(col("id").cast("string").as("parent_hash"),
          col("id").cast("string").as("child_hash"))
        GraphStore(verts, e.select(lit("e").as("edge_id"), col("src").cast("string").as("src"),
          col("dst").cast("string").as("dst"), lit("h").as("prop_hash")), props, pc)
      }
      val toLong: org.apache.spark.sql.Column => org.apache.spark.sql.Column = _.cast("long")
      for ((nc, tag) <- Seq((1, "1x"), (10, "10x"))) {
        val e = copies(nc).persist(); e.count()
        val g = store(e)
        // warm the per-scale plan once so codegen is out of the deltas
        graft.analytics.GraphAnalytics.pageRankDF(g, toLong, numIter = 2).count()
        for (iters <- Seq(2, 10)) {
          jobs.set(0)
          time(s"pagerank_${tag}_iters$iters") {
            graft.analytics.GraphAnalytics.pageRankDF(g, toLong, numIter = iters).count()
          }
          println(s"MARKER pagerank_${tag}_iters$iters jobs=${jobs.get}")
        }
        graft.analytics.GraphAnalytics.randomWalks(e, walkLen = 2).count()
        for (len <- Seq(2, 8)) {
          jobs.set(0)
          time(s"walks_${tag}_len$len") {
            graft.analytics.GraphAnalytics.randomWalks(e, walkLen = len).count()
          }
          println(s"MARKER walks_${tag}_len$len jobs=${jobs.get}")
        }
        e.unpersist()
      }
      spark.stop(); return
    }

    if (args.headOption.contains("walks")) {
      // walk arm: randomWalks + skip-gram pairs over 1 vs 10 DISJOINT
      // copies of the sf0.1 thresholded co-purchase graph (node ids offset
      // per copy) — walk count and pair volume scale linearly by design
      val li = spark.read.parquet(s"$base/lineitem.parquet")
        .select(col("l_orderkey").as("o"), col("l_partkey").as("p"))
      val pairs = li.join(li.select(col("o"), col("p").as("p2")), Seq("o"))
        .where(col("p") < col("p2"))
        .groupBy(col("p").as("a"), col("p2").as("b"))
        .agg(countDistinct("o").as("w"))
        .where(col("w") >= 2)
      val sym = pairs.select(col("a").as("src"), col("b").as("dst"))
        .unionByName(pairs.select(col("b").as("src"), col("a").as("dst")))
        .persist()
      sym.count()
      def copies(n: Int) = (0 until n).map(c =>
        sym.select((col("src") + lit(c.toLong * 10000000L)).as("src"),
          (col("dst") + lit(c.toLong * 10000000L)).as("dst")))
        .reduce(_ unionByName _)
      for ((n, tag) <- Seq((1, "1x"), (10, "10x"))) {
        val e = copies(n)
        time(s"graph_random_walks_$tag") {
          graft.analytics.GraphAnalytics.randomWalks(e, walkLen = 4).count()
        }
        time(s"graph_walk_pairs_$tag") {
          graft.analytics.GraphAnalytics.walkSkipGramPairs(
            graft.analytics.GraphAnalytics.randomWalks(e, walkLen = 4), window = 2).count()
        }
        // DeepWalk-typical walkLen-40 arm, pair stage ISOLATED: the walk
        // corpus is materialized first so the timing measures only the
        // (walk_id, step)-keyed pair join — must scale linearly in walk
        // rows (a walk_id-only residual join would scale with len² here)
        val corpus40 = graft.analytics.GraphAnalytics
          .randomWalks(e, walkLen = 40).persist()
        corpus40.count()
        time(s"graph_walk_pairs_len40_$tag") {
          graft.analytics.GraphAnalytics.walkSkipGramPairs(corpus40, window = 5).count()
        }
        corpus40.unpersist()
      }
      spark.stop(); return
    }

    if (args.headOption.contains("ktruss100")) {
      // round-15 (VERDICT r14 #2): the DEGREE-ORIENTED k-truss peel over
      // 1/10/100 disjoint copies of the sf0.1 co-purchase graph — truss
      // volume scales linearly by construction; the wedge fan-out per
      // round is Σ C(outdeg⁺, 2) = O(m^1.5) regardless of hub skew, so
      // the decades should track the louvain arm's near-linear shape.
      val li = spark.read.parquet(s"$base/lineitem.parquet")
        .select(col("l_orderkey").as("o"), col("l_partkey").as("p"))
      val cp = graft.analytics.GraphAnalytics.coPurchasePairs(li, "o", "p", minShared = 2)
        .select("a", "b").persist()
      cp.count()
      def copies(n: Int) = (0 until n).map(c =>
        cp.select((col("a") + lit(c.toLong * 10000000L)).as("a"),
          (col("b") + lit(c.toLong * 10000000L)).as("b")))
        .reduce(_ unionByName _)
      graft.analytics.GraphAnalytics.kTruss(copies(1), k = 3).count() // warm
      for ((n, tag) <- Seq((1, "1x"), (10, "10x"), (100, "100x"))) {
        time(s"graph_ktruss_$tag") {
          graft.analytics.GraphAnalytics.kTruss(copies(n), k = 3).count()
        }
      }
      cp.unpersist()
      spark.stop(); return
    }

    if (args.headOption.contains("n2vhops")) {
      // round-16 (VERDICT r15 #1): ATTRIBUTE the n2v40 100x super-
      // linearity — per-barrier wall time, live rows and task-metric
      // deltas (shuffle write, spill, GC, executor time) across the five
      // checkpoint windows of the depth-40 walk, at 1x/10x/100x. If
      // per-barrier cost GROWS with hop index at 100x, the hop frames'
      // per-hop payload grows (the __path-on-candidates hypothesis); if
      // flat but super-linear vs rung, it's volume-independent overhead.
      import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
      val shufW = new java.util.concurrent.atomic.LongAdder
      val spill = new java.util.concurrent.atomic.LongAdder
      val gcMs = new java.util.concurrent.atomic.LongAdder
      val runMs = new java.util.concurrent.atomic.LongAdder
      spark.sparkContext.addSparkListener(new SparkListener {
        override def onTaskEnd(te: SparkListenerTaskEnd): Unit = {
          val tm = te.taskMetrics
          if (tm != null) {
            shufW.add(tm.shuffleWriteMetrics.bytesWritten)
            spill.add(tm.memoryBytesSpilled + tm.diskBytesSpilled)
            gcMs.add(tm.jvmGCTime)
            runMs.add(tm.executorRunTime)
          }
        }
      })
      val li = spark.read.parquet(s"$base/lineitem.parquet")
        .select(col("l_orderkey").as("o"), col("l_partkey").as("p"))
      val cp = graft.analytics.GraphAnalytics.coPurchasePairs(li, "o", "p", minShared = 2)
      val sym = cp.select(col("a").as("src"), col("b").as("dst"))
        .unionByName(cp.select(col("b").as("src"), col("a").as("dst")))
        .persist()
      sym.count()
      def copies(nc: Int) = (0 until nc).map(c =>
        sym.select((col("src") + lit(c.toLong * 10000000L)).as("src"),
          (col("dst") + lit(c.toLong * 10000000L)).as("dst")))
        .reduce(_ unionByName _)
      graft.analytics.GraphAnalytics.node2vecWalks(copies(1), walkLen = 4,
        retMilli = 250, outMilli = 2000).count() // warm codegen
      for ((nc, tag) <- Seq((1, "1x"), (10, "10x"), (100, "100x"))) {
        val e = copies(nc).coalesce(64).persist(); e.count()
        var t0 = System.nanoTime()
        var Seq(sw0, sp0, gc0, rn0) =
          Seq(shufW, spill, gcMs, runMs).map(_.sum())
        val total0 = System.nanoTime()
        val walks = graft.analytics.GraphAnalytics.walkLoop(
          graft.analytics.GraphAnalytics.node2vecWalk(e, retMilli = 250, outMilli = 2000),
          walkLen = 40, seed = "n2v",
          onBarrier = (hop, cur, parkedNew) => {
            val wall = (System.nanoTime() - t0) / 1e9
            val Seq(sw, sp, gc, rn) = Seq(shufW, spill, gcMs, runMs).map(_.sum())
            val live = cur.count(); val dead = parkedNew.count()
            println(f"MARKER n2vhops_${tag}_hop$hop%02d wall=$wall%.1f " +
              f"live=$live dead=$dead shufW_mb=${(sw - sw0) / 1e6}%.0f " +
              f"spill_mb=${(sp - sp0) / 1e6}%.0f gc_s=${(gc - gc0) / 1e3}%.1f " +
              f"task_s=${(rn - rn0) / 1e3}%.1f")
            sw0 = shufW.sum(); sp0 = spill.sum(); gc0 = gcMs.sum(); rn0 = runMs.sum()
            t0 = System.nanoTime()
          })
        val n = walks.count()
        println(f"MARKER n2vhops_${tag}_total rows=$n " +
          f"time=${(System.nanoTime() - total0) / 1e9}%.1f")
        e.unpersist()
      }
      spark.stop(); return
    }

    if (args.headOption.contains("n2v40")) {
      // round-15 (VERDICT r14 #4): node2vec at PRODUCTION depth 40 over
      // 1/10/100 disjoint co-purchase copies — the len-4 probe (n2v100)
      // measured 3.2/5.8/50.1 s; this pins the depth the gate's
      // graph_node2vec_walks_long entry actually samples at, where the
      // checkpoint-every-8 cadence meets the biased sampler's wider
      // Σ deg(cur) hop frames.
      val li = spark.read.parquet(s"$base/lineitem.parquet")
        .select(col("l_orderkey").as("o"), col("l_partkey").as("p"))
      val cp = graft.analytics.GraphAnalytics.coPurchasePairs(li, "o", "p", minShared = 2)
      val sym = cp.select(col("a").as("src"), col("b").as("dst"))
        .unionByName(cp.select(col("b").as("src"), col("a").as("dst")))
        .persist()
      sym.count()
      def copies(nc: Int) = (0 until nc).map(c =>
        sym.select((col("src") + lit(c.toLong * 10000000L)).as("src"),
          (col("dst") + lit(c.toLong * 10000000L)).as("dst")))
        .reduce(_ unionByName _)
      graft.analytics.GraphAnalytics.node2vecWalks(copies(1), walkLen = 4,
        retMilli = 250, outMilli = 2000).count() // warm codegen on a short walk
      for ((nc, tag) <- Seq((1, "1x"), (10, "10x"), (100, "100x"))) {
        val e = copies(nc).coalesce(64).persist(); e.count()
        time(s"graph_node2vec_walks_long_$tag") {
          graft.analytics.GraphAnalytics.node2vecWalks(e, walkLen = 40,
            retMilli = 250, outMilli = 2000).count()
        }
        e.unpersist()
      }
      spark.stop(); return
    }

    if (args.headOption.contains("curatepipe100")) {
      // round-15 (VERDICT r14 #5): the COMPOSED curate_pipeline at
      // 1x/10x/100x document copies — the chain contains two cc fixpoints
      // and an LSH propose; this measures their interaction at volume and
      // the composed-vs-sum-of-parts ratio per decade. The generic
      // build/build100 corpora prefix EVERY word, which destroys the
      // stopword-based langid/quality signals and drains the pipeline at
      // stage 1 (measured: 0 rows at 10x) — so this arm builds its own
      // copies: only words of length >= 5 get a LETTER-ONLY copy tag
      // (digits would inflate digit_ratio into the quality penalty),
      // keeping the language markers, stopword ratio and quality score
      // intact while still making the near-dup shingle structure
      // copy-independent (cross-copy Jaccard far below the 0.5 verify
      // threshold).
      val docs0 = spark.read.parquet(s"$base/documents.parquet")
      def buildPipe(n: Int, dir: String): Unit = {
        val copies = (0 until n).map { c =>
          val tag = s"q${('a' + c % 26).toChar}${('a' + c / 26).toChar}"
          docs0.select(
            (col("doc_id") + lit(c.toLong * 10000000L)).as("doc_id"),
            concat_ws(" ", transform(split(col("text"), " "),
              w => when(length(w) < 5, w).otherwise(concat(lit(tag), w)))).as("text"),
            col("lang"), col("source"), col("n_chars"))
        }.reduce(_ unionByName _)
        copies.repartition(64).write.mode("overwrite").parquet(s"$dir/documents.parquet")
      }
      buildPipe(10, "target/scaleprobe/pipe10x")
      buildPipe(100, "target/scaleprobe/pipe100x")
      val qs = graft.SparkEntry.queries
      qs("curate_pipeline")(spark, base).count() // warm
      for ((dir, tag) <- Seq((base, "1x"), ("target/scaleprobe/pipe10x", "10x"),
          ("target/scaleprobe/pipe100x", "100x"))) {
        // report the packed-doc total, not the 8 shard rows — the probe's
        // first failure mode is the corpus draining at the filter stage,
        // and a volume count makes that impossible to miss
        time(s"curate_pipeline_$tag") {
          qs("curate_pipeline")(spark, dir)
            .agg(coalesce(sum("n_docs"), lit(0L))).head().getLong(0)
        }
      }
      spark.stop(); return
    }

    if (args.headOption.contains("lshcensus")) {
      // round-16 (VERDICT r15 #2/#6): bucket-size census for the two
      // remaining bucket joins without written-down math, plus the
      // minhash sub-cap tail that explains curate_pipeline's 1.24x/datum
      // residual. No pair join runs — every number is an aggregation
      // over bucket SIZES (sum b(b-1)/2), so the 100x rungs are cheap
      // even where the uncapped join would propose billions.
      //
      // (a) embedding LSH (lshCosinePairs / lshTopK buckets): fixed
      // 2^planes buckets => pairs ~ N^2/2^(planes+1). The planes sweep
      // shows width-sizing (planes ~ log2 N) restoring linearity.
      val embRungs = Seq((base, "1x"), (big, "10x"), (big100, "100x"))
      for ((dir, tag) <- embRungs; planes <- Seq(8, 12, 16)) {
        val e = spark.read.parquet(s"$dir/embeddings.parquet")
        val sizes = e.select(graft.pipeline.Similarity
            .cosineBuckets(col("embedding"), planes).as("bucket"))
          .groupBy("bucket").agg(count(lit(1)).as("n"))
        val r = sizes.agg(count(lit(1)).as("buckets"), max("n").as("top"),
          sum(expr("n*(n-1) DIV 2")).as("pairs"),
          sum(when(col("n") <= 65536, expr("n*(n-1) DIV 2")).otherwise(lit(0L)))
            .as("pairs_capped")).head()
        println(s"MARKER lshcensus_emb_${tag}_p$planes buckets=${r.getLong(0)} " +
          s"top=${r.getLong(1)} pairs=${r.getLong(2)} capped=${r.getLong(3)}")
      }
      // (b) minhash (band, sig) buckets over the simhash-census corpus
      // (boilerplate tail + exact dups): the sub-cap tail Σ_{b<=C} C(b,2)
      // vs the linear envelope k*N*(C-1)/2 at C = 1024.
      def corpus(dir: String) = {
        val docs0 = spark.read.parquet(s"$dir/documents.parquet").select("doc_id", "text")
        docs0.unionByName(docs0.select((col("doc_id") + 1000000L).as("doc_id"),
            concat(col("text"), lit(" common tail marker phrase")).as("text")))
          .unionByName(docs0.where(col("doc_id") % 10 === 0)
            .select((col("doc_id") + 2000000L).as("doc_id"), col("text")))
      }
      val mhRungs = Seq((base, "1x"), ("target/scaleprobe/pipe10x", "10x"),
        ("target/scaleprobe/pipe100x", "100x"))
      for ((dir, tag) <- mhRungs) {
        val c = corpus(dir)
        val nDocs = c.count()
        val sigs = c.select(col("doc_id") +:
          graft.pipeline.Dedup.signatureColumns(col("text"), 3, 4): _*)
          .where(col("h0").isNotNull)
        val banded = sigs.select(col("doc_id"),
          explode(array((0 until 4).map(i =>
            struct(lit(i).as("band"), col(s"h$i").as("sig"))): _*)).as("b"))
          .select(col("b.band"), col("b.sig"))
        val sizes = banded.groupBy("band", "sig").agg(count(lit(1)).as("n"))
        val r = sizes.agg(count(lit(1)).as("buckets"), max("n").as("top"),
          sum(expr("n*(n-1) DIV 2")).as("pairs"),
          sum(when(col("n") <= 1024, expr("n*(n-1) DIV 2")).otherwise(lit(0L)))
            .as("subcap")).head()
        val envelope = 4L * nDocs * 1023L / 2L
        println(s"MARKER lshcensus_mh_$tag docs=$nDocs buckets=${r.getLong(0)} " +
          s"top=${r.getLong(1)} pairs=${r.getLong(2)} subcap=${r.getLong(3)} " +
          s"envelope=$envelope")
      }
      spark.stop(); return
    }

    if (args.headOption.contains("simhash100")) {
      // round-15: simhash near-dup pairs over the pipe-probe corpora
      // (planted dups + boilerplate tail, the census corpus). The shipped
      // 64-bit/16-bit-chunk form runs all three rungs; the old
      // 8-bit-chunk form runs 1x/10x ONLY — its 100x census counted 28.7
      // BILLION proposed pairs, which is the cluster-killer this arm
      // exists to document, not to reproduce.
      def corpus(dir: String) = {
        val docs0 = spark.read.parquet(s"$dir/documents.parquet").select("doc_id", "text")
        docs0.unionByName(docs0.select((col("doc_id") + 1000000L).as("doc_id"),
            concat(col("text"), lit(" common tail marker phrase")).as("text")))
          .unionByName(docs0.where(col("doc_id") % 10 === 0)
            .select((col("doc_id") + 2000000L).as("doc_id"), col("text")))
      }
      val rungs = Seq((base, "1x"), ("target/scaleprobe/pipe10x", "10x"),
        ("target/scaleprobe/pipe100x", "100x"))
      graft.pipeline.Dedup.simhashPairs(corpus(base), "doc_id", "text").count() // warm
      for ((dir, tag) <- rungs) {
        time(s"dedup_simhash_pairs64_$tag") {
          graft.pipeline.Dedup.simhashPairs(corpus(dir), "doc_id", "text").count()
        }
      }
      for ((dir, tag) <- rungs.take(2)) {
        time(s"dedup_simhash_pairs32_$tag") {
          graft.pipeline.Dedup.simhashPairs(corpus(dir), "doc_id", "text",
            bits = 32, bands = 4, maxHamming = 3).count()
        }
      }
      spark.stop(); return
    }

    if (args.headOption.contains("leiden100")) {
      // round-15: TRUE Leiden (interleaved refinement) over the same
      // 1/10/100 disjoint co-purchase copies as the louvain arm — the
      // delta vs that arm is the per-level intra-edge cc fixpoints +
      // fragment coarsening at volume.
      val li = spark.read.parquet(s"$base/lineitem.parquet")
        .select(col("l_orderkey").as("o"), col("l_partkey").as("p"))
      val cp = graft.analytics.GraphAnalytics.coPurchasePairs(li, "o", "p", minShared = 2)
        .select("a", "b").persist()
      cp.count()
      def symCopies(n: Int) = {
        val s0 = (0 until n).map(c =>
          cp.select((col("a") + lit(c.toLong * 10000000L)).as("a"),
            (col("b") + lit(c.toLong * 10000000L)).as("b")))
          .reduce(_ unionByName _)
        s0.unionByName(s0.select(col("b").as("a"), col("a").as("b")))
      }
      graft.analytics.GraphAnalytics.leiden(symCopies(1), maxLevels = 3, maxRounds = 8).count()
      for ((n, tag) <- Seq((1, "1x"), (10, "10x"), (100, "100x"))) {
        time(s"graph_leiden_$tag") {
          graft.analytics.GraphAnalytics.leiden(symCopies(n), maxLevels = 3, maxRounds = 8).count()
        }
      }
      cp.unpersist()
      spark.stop(); return
    }

    if (args.headOption.contains("louvain")) {
      // VERDICT r13 item #1 probe arm: full multi-level Louvain (3 levels
      // x 8 parity sweeps, the gate shape) over 1/10/100 disjoint copies
      // of the sf0.1 co-purchase graph — community volume scales linearly
      // by construction, so any super-linear time is the engine's.
      val li = spark.read.parquet(s"$base/lineitem.parquet")
        .select(col("l_orderkey").as("o"), col("l_partkey").as("p"))
      val cp = graft.analytics.GraphAnalytics.coPurchasePairs(li, "o", "p", minShared = 2)
        .select("a", "b").persist()
      cp.count()
      def symCopies(n: Int) = (0 until n).map(c =>
        cp.select((col("a") + lit(c.toLong * 10000000L)).as("a"),
          (col("b") + lit(c.toLong * 10000000L)).as("b")))
        .reduce(_ unionByName _)
      def sym(n: Int) = {
        val s0 = symCopies(n)
        s0.unionByName(s0.select(col("b").as("a"), col("a").as("b")))
      }
      // warm codegen on the smallest shape first
      graft.analytics.GraphAnalytics.louvain(sym(1), maxLevels = 3, maxRounds = 8).count()
      for ((n, tag) <- Seq((1, "1x"), (10, "10x"), (100, "100x"))) {
        time(s"graph_louvain_$tag") {
          graft.analytics.GraphAnalytics.louvain(sym(n), maxLevels = 3, maxRounds = 8).count()
        }
      }
      cp.unpersist()
      spark.stop(); return
    }

    if (args.headOption.contains("bulkmut")) {
      // VERDICT r13 item 6: §2.6 bulk mutations at volume (the gate
      // fixtures are toy-sized). Synthetic stores at 10k/100k/1M nodes,
      // each node carrying a DISTINCT property row — so the GC sweep's
      // live-set semi-joins and the update path's orphan cascade run at
      // node volume, not over two marker rows. Three timed phases per
      // arm: CREATE (props+nodes+2n ring/skip edges through the
      // duplicate/endpoint-validated bulk inserts, then the ._tmp staged
      // save), UPDATE+GC (repoint a third of the nodes to fresh props,
      // sweep the orphaned third), DELETE+GC (drop a third of the nodes,
      // clean now-dangling edges with endpoint semi-joins, sweep).
      import graft.model.GraphStore
      import graft.store.BulkMutations
      import spark.implicits._
      for ((n, tag) <- Seq((10000L, "1x"), (100000L, "10x"), (1000000L, "100x"))) {
        val dbDir = s"target/scaleprobe/bulkmut_$tag"
        val ids = spark.range(n).select(
          concat(lit("u:"), col("id")).as("nid"), col("id").as("k"))
        time(s"bulkmut_create_$tag") {
          val props = ids.select(
            md5(concat(lit("p|"), col("nid"))).as("hash"),
            concat(lit("{\"c\":\""), col("nid"), lit("\"}")).as("value"),
            lit("User").as("schema_type"))
            .unionByName(Seq(("EDGEPROP", "{\"t\":\"Knows\"}", "Knows"))
              .toDF("hash", "value", "schema_type"))
          val nodes = ids.select(col("nid").as("id"),
            md5(concat(lit("p|"), col("nid"))).as("prop_hash"))
          val edges = ids.select(concat(lit("u:"), (col("k") + 1) % n).as("src"),
              col("nid").as("dst"))
            .unionByName(ids.select(
              concat(lit("u:"), (col("k") * 7 + 3) % n).as("src"), col("nid").as("dst")))
            .withColumn("prop_hash", lit("EDGEPROP"))
          val g = BulkMutations.createEdges(
            BulkMutations.createNodes(
              BulkMutations.createProperties(GraphStore.empty(spark), props, None),
              nodes), edges)
          g.save(dbDir)
          spark.read.parquet(s"$dbDir/vertices").count()
        }
        time(s"bulkmut_update_gc_$tag") {
          val g = GraphStore.load(spark, dbDir)
          val isSel = expr("CAST(substr(id, 3) AS BIGINT) % 3 = 0")
          val newProps = g.vertices.where(isSel).select(
            md5(concat(lit("q|"), col("id"))).as("hash"),
            concat(lit("{\"c2\":\""), col("id"), lit("\"}")).as("value"),
            lit("User").as("schema_type"))
          val repointed = g.vertices.select(col("id"),
            when(isSel, md5(concat(lit("q|"), col("id"))))
              .otherwise(col("prop_hash")).as("prop_hash"))
          val g2 = BulkMutations.gcOrphanProps(
            BulkMutations.createProperties(g, newProps, None)
              .copy(vertices = repointed))
          g2.save(s"${dbDir}_u")
          spark.read.parquet(s"${dbDir}_u/props").count()
        }
        time(s"bulkmut_delete_gc_$tag") {
          val g = GraphStore.load(spark, s"${dbDir}_u")
          val del = g.vertices
            .where(expr("CAST(substr(id, 3) AS BIGINT) % 3 = 1")).select("id")
          val g2 = BulkMutations.deleteNodes(g, del)
          val cleanEdges = g2.edges
            .join(g2.vertices.select(col("id").as("src")), Seq("src"), "left_semi")
            .join(g2.vertices.select(col("id").as("dst")), Seq("dst"), "left_semi")
          val g3 = BulkMutations.gcOrphanProps(g2.copy(edges = cleanEdges))
          g3.save(s"${dbDir}_d")
          spark.read.parquet(s"${dbDir}_d/vertices").count()
        }
      }
      spark.stop(); return
    }

    if (args.headOption.contains("wave2")) {
      // round-11 second-wave operators at 1x vs 10x. Document/embedding
      // ops run the driver queries against the replicated dir; event ops
      // replicate users with offset ids (independent copies — cohort and
      // sequence volume scale linearly by design); adamic-adar runs over
      // disjoint co-purchase graph copies like the walks arm.
      val qs2 = graft.SparkEntry.queries
      val wave2Docs = Seq("curate_dsir", "curate_prototypes",
        "text_collocations", "corpus_entropy", "curate_leakage_split")
      // warm codegen/JIT on the 1x plans once so the 1x numbers measure
      // the operator, not first-query compilation
      for (name <- wave2Docs) {
        graft.Memo.bust(graft.Memo.Shared, spark, base)
        qs2(name)(spark, base).count()
      }
      for ((dir, tag) <- Seq((base, "1x"), (big, "10x"))) {
        for (name <- wave2Docs) {
          graft.Memo.bust(graft.Memo.Shared, spark, dir)
          time(s"${name}_$tag") { qs2(name)(spark, dir).count() }
        }
      }
      // raw parquet lands as TIMESTAMP_NTZ (the canonical boundary the
      // driver queries get from TpchGraph.table is bypassed here) — cast
      // to the session-zone timestamp the operators' LONG cast accepts
      val ev = spark.read.parquet(s"$base/events.parquet")
        .withColumn("ts", col("ts").cast("timestamp"))
      def evCopies(n: Int) = (0 until n).map(c =>
        ev.select((col("event_id") + lit(c.toLong * 1000000000L)).as("event_id"),
          col("ts"), (col("user_id") + lit(c.toLong * 10000000L)).as("user_id"),
          col("event_type"), col("value"), col("props")))
        .reduce(_ unionByName _)
      for ((n, tag) <- Seq((1, "1x"), (10, "10x"))) {
        val e = evCopies(n).persist(); e.count()
        time(s"events_retention_$tag") {
          graft.streaming.EventStreams.retentionCohorts(
            e.select(col("user_id"), col("ts"))).count()
        }
        time(s"events_rate_anomaly_$tag") {
          graft.streaming.EventStreams.rateAnomalies(
            e.select(col("event_type"), col("ts"))).count()
        }
        time(s"events_user_sequences_$tag") {
          // second-resolution order key; event_id breaks intra-second ties
          graft.streaming.EventStreams.userSequences(
            e.select(col("user_id"), expr("CAST(ts AS LONG)").as("tns"),
              col("event_id"), col("event_type"))).count()
        }
        e.unpersist()
      }
      val li2 = spark.read.parquet(s"$base/lineitem.parquet")
        .select(col("l_orderkey").as("o"), col("l_partkey").as("p"))
      val cp = li2.join(li2.select(col("o"), col("p").as("p2")), Seq("o"))
        .where(col("p") < col("p2"))
        .groupBy(col("p").as("a"), col("p2").as("b"))
        .agg(countDistinct("o").as("w"))
        .where(col("w") >= 2)
        .select("a", "b").persist()
      cp.count()
      def cpCopies(n: Int) = (0 until n).map(c =>
        cp.select((col("a") + lit(c.toLong * 10000000L)).as("a"),
          (col("b") + lit(c.toLong * 10000000L)).as("b")))
        .reduce(_ unionByName _)
      for ((n, tag) <- Seq((1, "1x"), (10, "10x"))) {
        time(s"graph_adamic_adar_$tag") {
          graft.analytics.GraphAnalytics.adamicAdar(cpCopies(n), topK = 50).count()
        }
      }
      spark.stop(); return
    }

    val qs = graft.SparkEntry.queries
    for ((dir, tag) <- Seq((base, "1x"), (big, "10x"))) {
      for (name <- Seq("dedup_paragraphs", "curate_neardup_corpus",
          "curate_funnel_rare", "ann_ivf_kmeans_topk",
          // round-10 additions: NB fit+score (vocab AND corpus scale 10x
          // in the prefixed replica) and IVF hard negatives (fixed anchor
          // set over 10x inverted lists)
          "text_nb_classify", "ann_hard_negatives")) {
        graft.Memo.bust(graft.Memo.Shared, spark, dir)
        time(s"${name}_$tag") { qs(name)(spark, dir).count() }
      }
    }
    // operator-level paragraphDedup arm: the bench entry's 40-composite
    // fixture absorbs the whole corpus into 40 giant rows at any scale —
    // here the composite COUNT scales with the corpus (constant ~125
    // paragraphs per composite), so the exponent measures the operator
    for ((dir, tag, groups) <- Seq((base, "1x", 40), (big, "10x", 400))) {
      val comp = TpchGraph.table(spark, dir, "documents")
        .select(col("doc_id"), col("text"))
        .groupBy((col("doc_id") % groups).as("cid"))
        .agg(concat_ws("\n",
          array_sort(collect_list(struct(col("doc_id"), col("text"))))
            .getField("text")).as("text"))
      time(s"paragraph_dedup_op_$tag") {
        graft.pipeline.Dedup.paragraphDedup(comp, "cid", "text").count()
      }
    }
    // pagerank arm: the operator over 1 vs 10 disjoint copies of the
    // region/nation/supplier/customer subgraph (same filter as
    // GraphQueries.analyticsSubgraph), node ids offset per copy
    val g0 = TpchGraph.build(spark, base)
    val keep = Seq("region", "nation", "supplier", "customer")
    val toLong0: org.apache.spark.sql.Column => org.apache.spark.sql.Column = { id =>
      val prefix = split(id, ":").getItem(0)
      val key = split(id, ":").getItem(1).cast("long")
      when(prefix === "region", key)
        .when(prefix === "nation", key + 100L)
        .when(prefix === "supplier", key + 10000L)
        .when(prefix === "customer", key + 1000000L)
    }
    val baseV = g0.vertices.where(split(col("id"), ":").getItem(0).isin(keep: _*))
    val baseE = g0.edges.where(col("prop_hash").isin(
      TpchGraph.unitHash("InNation"), TpchGraph.unitHash("InRegion")))
    def copyStore(n: Int): graft.model.GraphStore = {
      def off(c: Int, idc: org.apache.spark.sql.Column) =
        concat(lit("x:"), (toLong0(idc) + lit(c.toLong * 10000000L)).cast("string"))
      graft.model.GraphStore(
        (0 until n).map(c => baseV.select(off(c, col("id")).as("id"), col("prop_hash")))
          .reduce(_ unionByName _),
        (0 until n).map(c => baseE.select(col("edge_id"),
          off(c, col("src")).as("src"), off(c, col("dst")).as("dst"), col("prop_hash")))
          .reduce(_ unionByName _),
        g0.props, g0.propRefs)
    }
    val toLongX: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
      id => split(id, ":").getItem(1).cast("long")
    time("graph_pagerank_df_1x") {
      graft.analytics.GraphAnalytics.pageRankDF(copyStore(1), toLongX, numIter = 10).count()
    }
    time("graph_pagerank_df_10x") {
      graft.analytics.GraphAnalytics.pageRankDF(copyStore(10), toLongX, numIter = 10).count()
    }
    spark.stop()
  }
}

package graft

/** Benchmark main: runs the headline queries on SPARK_GRAFT_SF_DIR and
  * prints ONE JSON line {"metric":...,"queries":{...}}. Each query's plan is
  * forced end-to-end through the noop sink (full execution, no collect
  * bottleneck, no disk-write skew). Graph construction + caching is timed
  * separately as "graph_build" — queries then measure steady-state query
  * time, the shape of a long-lived engine. */
object Bench {
  // a representative slice: traversals, paths, set algebra, aggregation,
  // joins, windows, graph analytics, dedup, ANN, text.
  //
  // WHICH GATE ENTRIES ARE *NOT* BENCHED — the rule (two classes only):
  //  1. micro fixtures: entries whose input is a hand-built toy (the
  //     zoe_* wire-format queries over the cocktail graph, the toy
  //     mutations/graphml/changeset/schema lifecycles) — their timings
  //     measure session overhead, not an operator;
  //  2. identical-plan siblings: entries whose physical plan differs
  //     from a benched entry only in a constant (graph_louvain_weighted
  //     vs graph_louvain — only the w column differs; ann_ivf_topk vs
  //     the benched ivf_kmeans/ivfpq family; graph_degree/neighbors/
  //     order_size vs the benched scans they project).
  // Everything else — any entry with a real corpus input and its own
  // plan shape — MUST be in this list, so a perf regression on it is
  // visible in the per-round JSON (the round-8 lesson).
  val headline: Seq[String] = Seq(
    "zoe_v_all", "zoe_two_hop", "zoe_paths_europe", "zoe_union",
    "zoe_disjunctive_union", "zoe_filter_sql", "zoe_e_all",
    "agg_pricing_summary", "agg_topk_parts", "join_revenue_by_nation",
    "window_top_order", "events_window_agg", "events_sessionize", "graphx_cc",
    "dedup_exact", "dedup_minhash_pairs", "dedup_ngram_jaccard",
    "text_quality", "text_fingerprint", "ann_topk",
    // round-3 additions: temporal joins, corpus rollup, whole-corpus LSH
    "events_asof_join", "events_range_join", "corpus_report",
    "embedding_lsh_pairs",
    // round-6 additions: the round-4/5 operators whose cost must not be
    // able to regress invisibly — tf-idf, stratified sampling, sequence
    // packing, int8 quantization, dup clustering (star-edge cc)
    "text_tfidf", "curate_stratified", "curate_pack",
    "embedding_quantize", "curate_dup_clusters",
    // the composed flagship: LSH → verify → cc → survivor selection
    "curate_neardup_corpus",
    // round-7 additions: BM25 retrieval, exact-substring dedup signal,
    // semantic dedup (k-means-bounded pairs + cc survivors), product
    // quantization
    "text_bm25", "dedup_substring", "dedup_semantic_pairs",
    "curate_semdedup_corpus", "embedding_pq", "ann_pq_topk",
    "curate_temperature_sample", "dedup_containment",
    "events_sliding_window", "ann_ivfpq_topk",
    // pipeline-QA reports: cross-source dup matrix, lang-id confusion,
    // embedding outliers
    "dedup_cross_source", "text_langid_confusion", "embedding_outliers",
    // round-6b additions: DataFrame-native cc + PageRank (the RDD-free
    // path), bloom decontamination, unigram-LM scoring, weighted sampling
    "curate_dup_clusters_df", "graph_pagerank_df",
    "curate_decontaminate_bloom", "text_unigram_logprob",
    "curate_weighted_sample", "dedup_similarity_report", "agg_kmv_distinct",
    "agg_countmin", "curate_funnel", "curate_bpe_merges",
    "curate_bpe_tokenize", "dedup_recall_report", "events_funnel",
    "dedup_incremental", "curate_cluster_histogram", "curate_export_manifest",
    // round-7 additions: rare-shingle containment (engulfed-pair recall),
    // winnowing fingerprints, embedding dimension QA, OOV-rate report
    "dedup_containment_rare", "text_winnowing", "embedding_dim_stats",
    "text_oov_rate", "curate_contamination_matrix", "dedup_threshold_sweep",
    "curate_chunk", "text_hot_spans", "embedding_covariance",
    "curate_semantic_decontaminate", "embedding_norms", "text_zipf",
    "curate_length_filter", "embedding_pca_loadings", "curate_mix_report",
    "graph_lpa_df",
    // round-8 additions: REAL JDK image/audio decode (PNG via ImageIO,
    // WAV/PCM via javax.sound), PCA projection transform, measured ANN
    // recall per method
    "multimodal_image_features", "multimodal_audio_features",
    "multimodal_resize_features", "multimodal_video_features",
    "embedding_pca_project", "ann_recall_report", "curate_funnel_rare",
    // DataFrame-native landmark BFS + degree-ordered triangle counting
    // (complete the RDD-free graph set) + weighted min-plus paths +
    // k-core peeling over the thresholded co-purchase graph
    "graph_sssp_df", "graph_triangles_df", "graph_wsssp_df",
    "graph_kcore_df",
    // round-9 additions: the event/streaming entries the round-8 timestamp
    // break proved can regress — now that Bench records failures as
    // failures, keep ALL of them in the measured set
    "events_interval_join", "events_stream_dedup", "stream_graph_ingest",
    "stream_sig_dedup", "stream_asset_features",
    // paragraph-granularity dedup + C4-style line cleaning + the IVF
    // probe-depth tuning table (one shared pass, three rungs)
    "dedup_paragraphs", "curate_clean_lines", "ann_nprobe_sweep",
    // persisted-index serving: load the parquet IVF-PQ index, search the
    // stored codes only (build+save is the one-time memo, not re-timed)
    "ann_ivfpq_serve",
    // round-10 additions: Naive Bayes classifier (train + corpus-wide
    // score) and its streaming model-serving twin
    "text_nb_confusion", "stream_nb_classify",
    // hard-negative mining + kNN label-noise vote off the shared IVF core
    "ann_hard_negatives", "ann_label_noise",
    // DeepWalk-style deterministic walk corpus over the co-purchase graph
    // + its skip-gram pair extraction (shared walk materialization)
    "graph_random_walks", "graph_walk_pairs", "graph_weighted_walks",
    // CCNet-style cross-document duplicated-paragraph ratios +
    // seed-conditioned personalized PageRank
    "dedup_paragraph_report", "graph_ppr_df", "curate_epoch_shuffle",
    // round-11 additions: half-corpus NB fit scoring the full corpus (the
    // OOV fallback cell on a measured path) and the ADC-propose /
    // exact-rerank refine pattern
    "text_nb_oov_classify", "ann_ivfpq_rerank", "text_bigram_logprob",
    "ann_contrastive_pairs", "curate_remove_spans", "graph_walk_pmi",
    "ann_ivfpq_forget", "embedding_whiten", "events_label_drift",
    // round-11 second wave: leakage-safe split (shares the near-dup memo,
    // cold-timed), DSIR importance resampling, link prediction, HITS,
    // cluster prototypes, retention/anomaly/sequence event analytics,
    // collocation PMI, per-source entropy
    "curate_leakage_split", "curate_dsir", "graph_adamic_adar",
    "graph_hits", "curate_prototypes", "events_retention",
    "events_rate_anomaly", "events_user_sequences", "text_collocations",
    "corpus_entropy", "io_jsonl_roundtrip", "io_orc_roundtrip",
    "stream_label_drift", "curate_token_budget", "io_csv_roundtrip",
    // round-12 additions: the IVF-PQ encode pass as its own entry (so
    // ann_ivfpq_topk can bench the served path without hiding build cost)
    // and best-fit-decreasing sequence packing
    "ann_ivfpq_encode", "curate_pack_bfd",
    // DeepWalk-production walk depth (len 40, window 5) in the gate
    "graph_walk_pairs_long",
    // tokenizer fertility per slice + distinct-bigram diversity (the
    // synthetic-data mode-collapse screen)
    "text_fertility", "text_distinct_ngrams",
    // round-13: deterministic SGNS negative sampling over the walk pairs
    // + word2vec frequent-node subsampling of the walk corpus
    "graph_walk_negatives", "graph_walk_subsample",
    // true second-order node2vec walks (the p/q-biased family member)
    "graph_node2vec_walks",
    // Gopher-style within-document repetition rules (dup lines, top
    // over the composite paragraph corpus (line-level rules)
    "text_dup_lines",
    // round-13 second wave: community-quality (modularity over the LPA
    // partition), degree assortativity of the co-purchase graph, and
    // hybrid BM25+vector retrieval via reciprocal-rank fusion
    "graph_modularity", "graph_assortativity", "ann_hybrid_rrf",
    // truncated-prefix recall rungs (the Matryoshka serving-tier test)
    "ann_matryoshka_recall",
    // flatMapGroupsWithState sessions through the real streaming engine
    // with event-time state expiry (timed like the other stream entries:
    // fixture staged untimed, one cold stream run)
    "stream_sessionize",
    // per-cluster simplified silhouette over the fitted k-means
    "embedding_silhouette",
    // per-source PII exposure audit (planted email/IP/phone/acct corpus)
    "text_pii_report",
    // the native session_window twin of the custom-state sessionizer
    "events_session_window",
    // Flesch reading-ease readability signal
    "text_readability",
    // int8 quantization-loss recall (precision twin of the matryoshka rungs)
    "ann_int8_recall",
    // local clustering coefficient (shared compact-forward triangle core)
    "graph_clustering_coeff",
    // per-user Markov transition matrix (sequence-modeling prep)
    "events_transition_matrix",
    // DAU / rolling WAU / stickiness engagement rollup
    "events_active_users",
    // synchronous Louvain local-move round (modularity-ascent step)
    "graph_louvain_move",
    // PSI distribution-shift screen between split slices
    "curate_psi_report",
    // round-14: FULL multi-level Louvain (3 levels x 8 parity sweeps)
    "graph_louvain",
    // node2vec at production depth 40 (second-order twin of
    // graph_walk_pairs_long)
    "graph_node2vec_walks_long",
    // the composed curation chain (filter -> decon -> exact -> near-dup
    // -> pack -> manifest) — composed cost vs the sum of its parts
    "curate_pipeline",
    // streaming ANN ingest: appendSave per micro-batch, serve from the
    // grown index (fixture + quantizer memo staged untimed)
    "stream_ann_ingest",
    // (graph_louvain_weighted is gate-checked but NOT benched: identical
    // plan shape and round count to graph_louvain — only the w column
    // differs — so its timing would duplicate the unit-weight entry)
    // k-truss edge-cohesion peel (the kcore family's edge analog)
    "graph_ktruss",
    // Gopher/MassiveText rule bundle over the composite corpus
    "text_gopher_rules",
    // Leiden-style refinement over the MEMOIZED louvain partition —
    // Memo.stage warms the shared ascent memo, so this entry times the
    // refinement cc ALONE (round 15; previously ascent + cc, with the
    // refinement cost recoverable only by subtracting two noisy numbers)
    "graph_louvain_refine",
    // round-15: TRUE Leiden — refinement interleaved into the level loop
    // (fragment coarsening + home-community restarts), vs graph_louvain's
    // raw coarsening; the delta vs graph_louvain is interleaving's cost
    "graph_leiden",
    // partition-quality report: Q(louvain) vs Q(lpa3) vs Q(singletons)
    // on the shared co-purchase edges (louvain partition from the warm
    // memo — this times the LPA rounds + three modularity rollups)
    "graph_louvain_quality",
    // round-16: Q(leiden) vs Q(louvain) on the same edges (both
    // partitions from warm memos — times the two modularity rollups)
    "graph_leiden_quality",
    // round-14: the formerly-unbenched non-micro gate entries (VERDICT r13
    // item #3) — real computations whose perf regressions were invisible:
    // the three graphx_* algorithm entries, the salted skew join, k-means
    // fit, SimHash near-dup pairs, and the multimodal dispatch entry (the
    // per-modality decode entries were already timed; this is the
    // combined fan-out path). graphx_pagerank, graphx_shortest_paths and
    // graphx_triangles run the same body as their graph_*_df twins —
    // identical-plan siblings, kept so the per-entry record keeps its
    // names across rounds.
    "graphx_pagerank", "graphx_shortest_paths", "graphx_triangles",
    "join_salted_skew", "embedding_kmeans", "dedup_simhash_pairs",
    "multimodal_features")

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession(s"local[$cpus]", cpus.toInt)

    def time(f: => Unit): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }

    // graph_build covers ALL one-time load cost: the graph tables AND the
    // relational base tables (repartition+persist on first touch) — so no
    // headline query silently absorbs cache warmup into its own number
    val buildSec = time {
      import scala.concurrent.{Await, Future}
      import scala.concurrent.ExecutionContext.Implicits.global
      import scala.concurrent.duration.Duration
      val g = Future(TpchGraph.build(spark, sfDir))
      val tables = Seq("lineitem", "part", "orders", "customer", "nation",
        "region", "supplier", "events", "documents", "embeddings")
        .map(t => Future(TpchGraph.table(spark, sfDir, t)))
      (g +: tables).foreach(Await.result(_, Duration.Inf))
    }
    // Steady-state timing: each query runs `runs` times (default 2) and
    // reports the fastest run. The first execution also pays one-time
    // whole-stage-codegen compilation and JVM JIT warmup, and a single run
    // is exposed to transient host contention — taking the min measures the
    // engine, not the noisy neighbor. (graph_build stays single-shot: it IS
    // the one-time cost.)
    val runs = sys.env.get("SPARK_GRAFT_BENCH_RUNS")
      .flatMap(v => scala.util.Try(v.trim.toInt).toOption)
      .getOrElse(2).max(1)
    // SPARK_GRAFT_BENCH_ONLY=q1,q2 restricts the measured set — an
    // iteration aid for profiling one operator without paying the full
    // sweep. The driver never sets it, so archived rounds always measure
    // the complete headline list.
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val measured = only.fold(headline)(f => headline.filter(f))
    // A query that THROWS must never masquerade as a fast one: round 8
    // archived 0.002 s "timings" for queries whose analysis failed, and the
    // JSON read as a speedup. Failures record a -1 sentinel and the name
    // lands in the "failed" array of the output line.
    val stagedSec = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    val results = measured.map { name =>
      val fn = SparkEntry.queries(name)
      // One-time inputs an entry deliberately does NOT measure — streaming
      // source fixtures + the NB serving model, and the shared-input memos
      // its warm-family consumers read — are staged OUTSIDE the timed
      // region (round 13): the r12 single-shot stream numbers co-moved
      // with temp-IO contention because each included its fixture write,
      // and curate_funnel's time depended on run order leaving the label
      // memo warm. The staging cost is recorded next to the entry.
      val st = time(Memo.stage(name, spark, sfDir))
      if (Memo.prestaged(name)) stagedSec(name) = st
      // memo-cold entries share a per-session memo: without busting it,
      // the second run — and any run after another sharer — times a
      // memo lookup instead of the pipeline. Bust it before every timed
      // run so the reported number is the cold pipeline cost. With
      // fixtures staged, stream entries re-run like every other entry —
      // the bust no longer re-pays fixture churn, so the min strips
      // one-off contention stalls (ADVICE r12: a single-shot stall used
      // to land in the archived JSON unchallenged).
      def once(): Double = {
        Memo.bustBefore(name, spark, sfDir)
        val t0 = System.nanoTime()
        try {
          fn(spark, sfDir).write.mode("overwrite").format("noop").save()
          (System.nanoTime() - t0) / 1e9
        } catch { case e: Throwable =>
          System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
          -1.0
        }
      }
      // re-run queries under a 300 s cap. The cap used to be 60 s, which
      // meant precisely the queries that looked worst on a contended host
      // were the ones measured only once (round 7 recorded 216 s for a
      // query that re-measures at 5.7 s quiet) — at 300 s every realistic
      // entry gets a second run and the min strips one-off contention.
      // A failed first run is NOT retried: deterministic analysis errors
      // would just fail again, and the sentinel must survive to the JSON.
      val first = once()
      val best =
        if (first < 0) first
        else (first +: Seq.fill(runs - 1)(if (first < 300.0) once() else first))
          .filter(_ >= 0).min
      name -> best
    }
    val qs = (("graph_build" -> buildSec) +: results)
      .map { case (k, v) => "\"" + k + f"""":$v%.3f""" }.mkString("{", ",", "}")
    // total sums only SUCCESSFUL runs; failed entries carry -1 in `queries`
    // and are listed by name so a regression to "broken" can never read as
    // a speedup in the archived record
    val failed = results.collect { case (k, v) if v < 0 => k }
    val total = buildSec + results.map(_._2).filter(_ >= 0).sum
    // memo_cold names the entries timed with their shared per-session
    // memo cleared before every run (cold pipeline cost, not cache hits)
    val cold = measured.filter(Memo.coldEntries)
      .map("\"" + _ + "\"").mkString("[", ",", "]")
    // prestaged names the entries whose one-time inputs (stream fixtures,
    // serving models, shared-input memos) are staged UNTIMED — so the
    // archived record says exactly which numbers exclude a staged input —
    // and staged_sec what staging them cost (additive fields, like
    // memo_cold before them)
    val staged = stagedSec.keys.map("\"" + _ + "\"").mkString("[", ",", "]")
    val stagedJson = stagedSec
      .map { case (k, v) => "\"" + k + f"""":$v%.3f""" }.mkString("{", ",", "}")
    val failedJson = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    val json =
      f"""{"metric":"total","value":$total%.3f,"unit":"sec","queries":$qs,"memo_cold":$cold,"prestaged":$staged,"staged_sec":$stagedJson,"failed":$failedJson,"sf":"$sfDir"}"""
    println(json)
    // also persist the record to a file: the driver captures the JSON from
    // the process tail, and a truncated tail (it happened in round 7 —
    // BENCH_r07.json `parsed: null`) would otherwise erase the round's
    // machine-readable numbers
    try {
      val out = java.nio.file.Paths.get("target", "bench.json")
      java.nio.file.Files.createDirectories(out.getParent)
      java.nio.file.Files.write(out, (json + "\n").getBytes("UTF-8"))
    } catch { case e: Throwable =>
      System.err.println(s"[bench] could not write target/bench.json: ${e.getMessage}")
    }
    spark.stop()
  }
}

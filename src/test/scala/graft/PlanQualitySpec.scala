package graft

import org.apache.spark.sql.functions._
import graft.exec.ZoeCompiler
import graft.model.PropValue
import graft.ql._

/** Plan-shape assertions: the properties SCALE.md promises must be visible
  * in the physical plans — filters pushed into parquet scans, no cartesian
  * products in traversals, whole-stage codegen in the pipeline hot path. */
class PlanQualitySpec extends SparkSuite {

  val dir = "/root/testdata/sf0.001"

  test("relational filters and projections reach the parquet scan") {
    val li = spark.read.parquet(s"$dir/lineitem.parquet")
      .where(col("l_quantity") > 30)
      .select("l_orderkey", "l_quantity")
    val plan = li.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity,30.0)]"),
      s"filter not pushed:\n$plan")
    assert(plan.contains("ReadSchema: struct<l_orderkey:bigint,l_quantity:double>"),
      s"columns not pruned:\n$plan")
  }

  test("traversal plans contain no cartesian products or nested loops") {
    val (batch, _) = CocktailFixture.build()
    val zc = new ZoeCompiler(batch.toStore(spark).persistAll())
    val gin = Zoe.start(CocktailFixture.prop("Ingredient", "gin"))
    val q = gin.referencingVertices.ingoing
      .intersect(Zoe.start(CocktailFixture.prop("Includes", "")).referencingEdges)
      .ingoing
    val plan = zc.run(q).vertices.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), s"cartesian product in traversal:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin"), s"nested loop join in traversal:\n$plan")
  }

  test("pipeline hot path stays inside whole-stage codegen") {
    import spark.implicits._
    val docs = Seq((1L, "alpha beta gamma delta epsilon zeta")).toDF("doc_id", "text")
    val df = graft.pipeline.Dedup.minhashSignatures(docs, "doc_id", "text")
    df.collect() // finalize the adaptive plan
    val plan = df.queryExecution.executedPlan.toString
    // codegen'd operators print with the `*(n)` whole-stage prefix
    assert(plan.contains("*("), s"no codegen span:\n$plan")
    // the long-form rewrite must not fall back to interpreted higher-order fns
    assert(!plan.toLowerCase.contains("cartesian"))
  }

  test("dup-cluster edge list is star-shaped: no collect_list feeds the cc input") {
    import spark.implicits._
    val docs = Seq((1L, "same"), (2L, "same"), (3L, "other")).toDF("doc_id", "text")
    val pairs = graft.pipeline.Curation.exactDupStarPairs(docs, "doc_id", "text")
    val plan = pairs.queryExecution.optimizedPlan.toString
    assert(!plan.toLowerCase.contains("collect_list"),
      s"unbounded per-group array in cc edge list:\n$plan")
    // the clique variant may collect, but only after the group-size guard:
    // the aggregate's input is pre-filtered by the counted-and-capped join
    val clique = graft.pipeline.Curation.exactDupCliquePairs(docs, "doc_id", "text")
    val cplan = clique.queryExecution.optimizedPlan.toString
    assert(cplan.contains("collect_list") && cplan.contains("__n"),
      s"clique path lost its size guard:\n$cplan")
  }

  test("bucketed layout: hop join on the bucket key needs no shuffle of edges") {
    val (batch, _) = CocktailFixture.build()
    val g = batch.toStore(spark)
    // unique prefix: the in-memory catalog forgets tables between JVMs but
    // their warehouse directories persist and block re-creation
    val gb = graft.model.GraphStore.saveBucketed(g, buckets = 4,
      tablePrefix = s"plan_spec_${System.nanoTime()}_")
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    try {
      // force a sort-merge join so the exchange structure is observable
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      val joined = gb.edges.join(gb.edges.groupBy("src").count(), Seq("src"))
      val plan = joined.queryExecution.executedPlan.toString
      // the bucketed scan side(s) must not re-shuffle on src
      assert(!plan.contains("Exchange hashpartitioning(src"),
        s"bucketed join still exchanges on src:\n$plan")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
    }
  }

  test("Store snapshot plan has no single-partition aggregation") {
    val g = TpchGraph.build(spark, dir)
    val zc = new ZoeCompiler(g)
    val q = Zoe.start(PropValue.typed("Nation", Some("NATION_7"))).referencingVertices
      .store.ingoing.ingoing
    val r = zc.run(q)
    r.vertices.collect() // finalize AQE
    val plan = r.vertices.queryExecution.executedPlan.toString
    // the snapshot must ride as a side table union, never a collect_set
    // funneled through one reducer and cross-joined back onto every row
    assert(!plan.contains("Exchange SinglePartition"), s"single-reducer store:\n$plan")
    assert(!plan.toLowerCase.contains("cartesian"), s"crossJoin store:\n$plan")
  }

  test("candidate-verify Jaccard never falls back to a cartesian join") {
    import spark.implicits._
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "alpha beta gamma delta epsilon eta"),
      (3L, "one two three four five six")).toDF("doc_id", "text")
    val df = graft.pipeline.Dedup.ngramJaccardViaMinhash(docs, "doc_id", "text")
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.toLowerCase.contains("cartesian"), s"cartesian in verify plan:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin"), s"nested-loop in verify plan:\n$plan")
  }

  test("round-13 second-wave ops: fusion/metric joins are equi, silhouette corpus side broadcasts centroids only") {
    import spark.implicits._
    // rrfFuse: union + groupBy + window — nothing may cartesian
    val armA = Seq((1L, 10L, 1L), (1L, 11L, 2L)).toDF("query_id", "doc_id", "rank")
    val armB = Seq((1L, 11L, 1L), (1L, 12L, 2L)).toDF("query_id", "doc_id", "rank")
    val rrf = graft.pipeline.Similarity.rrfFuse(Seq(armA, armB), c = 60, topK = 5)
    rrf.collect()
    val rrfPlan = rrf.queryExecution.executedPlan.toString
    assert(!rrfPlan.toLowerCase.contains("cartesian"), s"cartesian:\n$rrfPlan")
    assert(!rrfPlan.contains("BroadcastNestedLoopJoin"), s"nested-loop:\n$rrfPlan")

    // assortativity / modularity / clustering coefficient: degree and
    // label decorations must stay equi-keyed (the 1-row totals frame is
    // the only permitted broadcast-nested-loop)
    val edges = Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 2L), (1L, 3L), (3L, 1L))
      .toDF("a", "b")
    for ((name, df) <- Seq(
        ("assortativity", graft.analytics.GraphAnalytics.assortativity(edges)),
        ("modularity", graft.analytics.GraphAnalytics.modularityByCommunity(
          Seq((1L, 1L), (2L, 1L), (3L, 1L)).toDF("vid", "label"), edges)),
        ("clusteringCoeff", graft.analytics.GraphAnalytics.clusteringCoefficients(
          edges.where($"a" < $"b"))))) {
      df.collect()
      // AQE's toString repeats the tree as "== Initial Plan ==" — count
      // operators in the final section only
      val plan = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
      assert(!plan.toLowerCase.contains("cartesian"), s"cartesian in $name:\n$plan")
      assert("BroadcastNestedLoopJoin".r.findAllIn(plan).size <= 1,
        s"more than the 1-row totals nested-loop in $name:\n$plan")
    }

    // silhouette: the only join against the corpus is the broadcast of
    // the k-row centroid frame
    val vecs = Seq((1L, Array(0.0f, 0.0f)), (2L, Array(10.0f, 0.0f)),
      (3L, Array(1.0f, 0.0f))).toDF("vec_id", "embedding")
    val sil = graft.pipeline.Clustering.silhouetteReport(vecs, "vec_id", "embedding",
      k = 2, iters = 0)
    sil.collect()
    val silPlan = sil.queryExecution.executedPlan.toString
    assert(!silPlan.toLowerCase.contains("cartesianproduct"), s"cartesian:\n$silPlan")
  }

  test("simhash pairs and salted join stay on equi-joins, never cartesian") {
    import spark.implicits._
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "alpha beta gamma delta epsilon eta"),
      (3L, "one two three four five six")).toDF("doc_id", "text")
    val sp = graft.pipeline.Dedup.simhashPairs(docs, "doc_id", "text")
    sp.collect()
    val spPlan = sp.queryExecution.executedPlan.toString
    assert(!spPlan.toLowerCase.contains("cartesian"), s"cartesian:\n$spPlan")
    assert(!spPlan.contains("BroadcastNestedLoopJoin"), s"nested-loop:\n$spPlan")

    val probe = Seq(("a", 1L), ("a", 2L), ("b", 3L)).toDF("k", "v")
    val build = Seq(("a", "x"), ("b", "y")).toDF("k", "name")
    val sj = graft.pipeline.Skew.saltedJoin(probe, build, Seq("k"), salt = 4)
    sj.collect()
    val sjPlan = sj.queryExecution.executedPlan.toString
    assert(!sjPlan.toLowerCase.contains("cartesian"), s"cartesian:\n$sjPlan")
    assert(!sjPlan.contains("BroadcastNestedLoopJoin"), s"nested-loop:\n$sjPlan")
  }

  test("bm25 broadcasts the query terms and corpus stats, no cartesian scan") {
    import spark.implicits._
    val docs = Seq(
      (1L, "alpha beta gamma delta"),
      (2L, "alpha beta epsilon zeta"),
      (3L, "one two three four")).toDF("doc_id", "text")
    val q = Seq((9L, "alpha beta")).toDF("qid", "qtext")
    val df = graft.pipeline.TextAnalysis.bm25TopK(docs, q, "doc_id", "text", "qid", "qtext", 2)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastExchange"), s"query side not broadcast:\n$plan")
    // the only nested-loop tolerated is the 1-row stats crossJoin; the
    // scoring joins themselves must be hash equi-joins
    assert(plan.contains("BroadcastHashJoin"), s"scoring not an equi-join:\n$plan")
  }

  test("PQ ADC search broadcasts its distance tables, codes join is equi") {
    import spark.implicits._
    val vecs = (0L until 20L).map(i =>
      (i, Array.tabulate(8)(j => (i * 8 + j).toFloat))).toDF("vec_id", "embedding")
    val df = graft.pipeline.Quantization.pqTopK(vecs, vecs.where($"vec_id" < 2),
      "vec_id", "embedding", k = 2, m = 2, codewords = 4)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    assert(plan.contains("BroadcastExchange"), s"ADC table not broadcast:\n$plan")
    assert(!plan.toLowerCase.contains("cartesian"), s"cartesian:\n$plan")
    // the codes -> ADC-table lookup must stay an equi hash join; the ONLY
    // nested-loop allowed is pqEncode's one-row broadcast codebook attach
    // (a crossJoin of a 1-row aggregate plans as BNLJ by construction)
    assert(plan.contains("BroadcastHashJoin"), s"codes join not equi:\n$plan")
    assert("BroadcastNestedLoopJoin".r.findAllIn(plan).size <= 1,
      s"unexpected nested-loop joins:\n$plan")
  }

  test("temperature sample rides one broadcast of cuts, no full-stratum sort") {
    import spark.implicits._
    val df = (1L to 100L).map(i => (i, s"s${i % 2}")).toDF("id", "stratum")
    val ts = graft.pipeline.Curation.temperatureSample(df, "id", "stratum", total = 10L)
    ts.collect()
    val plan = ts.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastExchange"), s"cuts not broadcast:\n$plan")
    assert(!plan.toLowerCase.contains("cartesian"), s"cartesian:\n$plan")
  }

  test("Zoe queries over a bucketed store return identical results") {
    val (batch, _) = CocktailFixture.build()
    val g = batch.toStore(spark)
    val gb = graft.model.GraphStore.saveBucketed(g, buckets = 4,
      tablePrefix = s"plan_spec_eq_${System.nanoTime()}_")
    val q = VertexQuery.all.filter(ZFilter("sql", "schema_type = 'Cocktail'"))
      .outgoing.outgoing
    val plain = new ZoeCompiler(g).run(q).vertices.collect().map(_.getString(0)).sorted
    val bucketed = new ZoeCompiler(gb).run(q).vertices.collect().map(_.getString(0)).sorted
    assert(plain.nonEmpty && plain.sameElements(bucketed))
  }

  test("Specific-property traversal broadcasts the tiny hash set side") {
    val g = TpchGraph.build(spark, dir)
    val zc = new ZoeCompiler(g)
    val q = Zoe.start(PropValue.typed("Nation", Some("NATION_7"))).referencingVertices
    // inspect the traversal itself (result assembly checkpoints it, hiding
    // the join behind a LogicalRDD scan)
    val df = zc.traceV(q)
    df.collect() // let AQE finalize
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastExchange"),
      s"prop-hash set not broadcast:\n$plan")
  }

  test("asofJoin is a window carry plus ONE equi-join for the payload") {
    import spark.implicits._
    val l = Seq((1L, 1L, 4L)).toDF("event_id", "user_id", "ts")
    val r = Seq((1L, 5L, 100L, 1.0)).toDF("user_id", "ts", "view_id", "view_value")
    val df = graft.pipeline.TemporalJoins.asofJoin(l, r, "user_id", "ts", "view_id")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("Window"), s"no window carry-forward:\n$plan")
    // the payload rejoin must be a hash/merge equi-join — never a range
    // probe, nested loop, or cartesian
    assert(!plan.toLowerCase.contains("cartesian"), s"cartesian:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin"), s"nested-loop:\n$plan")
  }

  test("rangeJoinBinned is an equi-join, never nested-loop, and " +
    "decontaminate broadcasts the benchmark gram set") {
    import spark.implicits._
    val l = (0L until 50L).map(i => (i, i % 3, i)).toDF("l_id", "k", "ts")
    val r = Seq((1L, 0L, 5L, 30L)).toDF("r_id", "k", "w_start", "w_end")
    val rj = graft.pipeline.TemporalJoins.rangeJoinBinned(
      l, r, "ts", "w_start", "w_end", binWidth = 10L, keys = Seq("k"))
    rj.collect()
    val rjPlan = rj.queryExecution.executedPlan.toString
    assert(!rjPlan.toLowerCase.contains("cartesian"), s"cartesian:\n$rjPlan")
    assert(!rjPlan.contains("BroadcastNestedLoopJoin"), s"nested-loop:\n$rjPlan")

    val corpus = Seq((1L, "one two three four five six")).toDF("doc_id", "text")
    val bench = Seq((9L, "one two three four five")).toDF("doc_id", "text")
    val dc = graft.pipeline.Curation.decontaminate(corpus, bench, "doc_id", "text", n = 5)
    dc.collect()
    val dcPlan = dc.queryExecution.executedPlan.toString
    assert(dcPlan.contains("BroadcastHashJoin") || dcPlan.contains("BroadcastExchange"),
      s"benchmark gram set not broadcast:\n$dcPlan")
    assert(!dcPlan.toLowerCase.contains("cartesian"), s"cartesian:\n$dcPlan")
  }

  test("bloom decontamination probes the sketch BEFORE the gram dedup shuffle") {
    import spark.implicits._
    val corpus = Seq((1L, "one two three four five six"),
      (2L, "clean words nothing shared here at all")).toDF("doc_id", "text")
    val bench = Seq((9L, "one two three four five")).toDF("doc_id", "text")
    val dc = graft.pipeline.Curation.decontaminateBloom(corpus, bench, "doc_id", "text", n = 5)
    dc.collect()
    val plan = dc.queryExecution.executedPlan.toString
    assert(!plan.toLowerCase.contains("cartesian"), s"cartesian:\n$plan")
    // the might_contain filter must sit below every exchange on its path:
    // the probe's string offset precedes the first exchange after it
    val probeAt = plan.indexOf("might_contain")
    assert(probeAt >= 0, s"no bloom probe in plan:\n$plan")
    val tail = plan.substring(probeAt)
    assert(tail.contains("Exchange"),
      s"probe not upstream of any exchange (nothing left to save):\n$plan")
  }

  test("bloom decontamination verifies against a checkpoint of the benchmark grams") {
    import spark.implicits._
    import org.apache.spark.sql.catalyst.plans.LeftSemi
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Deduplicate, Join}
    import org.apache.spark.sql.execution.LogicalRDD
    val corpus = Seq((1L, "one two three four five six"),
      (2L, "clean words nothing shared here at all")).toDF("doc_id", "text")
    val bench = Seq((9L, "one two three four five")).toDF("doc_id", "text")
    val dc = graft.pipeline.Curation.decontaminateBloom(corpus, bench, "doc_id", "text", n = 5)
    // the returned frame is lazy: each action on it reads the benchmark
    // side of the exact FP-removal semi-join, which must be a checkpoint
    // scan, not the benchmark's shingle distinct run again
    val plan = dc.queryExecution.analyzed
    val benchSides = plan.collect { case j: Join if j.joinType == LeftSemi => j.right }
    assert(benchSides.nonEmpty, s"no exact verification semi-join:\n$plan")
    benchSides.foreach { side =>
      assert(side.exists(_.isInstanceOf[LogicalRDD]), s"benchmark side not a checkpoint scan:\n$side")
      assert(!side.exists(p => p.isInstanceOf[Aggregate] || p.isInstanceOf[Deduplicate]),
        s"benchmark side recomputes the shingle distinct:\n$side")
    }
    assert(dc.collect().map(_.getLong(0)).toSet == Set(2L))
  }

  test("sketch aggregates: kmv partial-aggregates map-side, countmin broadcasts counters") {
    import spark.implicits._
    val df = spark.range(500).select(concat(lit("k"), col("id") % 7).as("v"))
    val kmv = df.agg(graft.functions.KmvDistinct.kmvDistinct(col("v"), 32))
    kmv.collect()
    val kplan = kmv.queryExecution.executedPlan.toString
    // TypedImperativeAggregate runs in ObjectHashAggregate with a partial
    // (map-side) mode before the single exchange
    assert(kplan.contains("ObjectHashAggregate"), s"no object hash agg:\n$kplan")
    assert(kplan.contains("kmv_distinct"), s"expression name missing:\n$kplan")

    val cm = graft.pipeline.Sketches.countMinReport(df, "v", depth = 2, width = 16)
    cm.collect()
    val cplan = cm.queryExecution.executedPlan.toString
    assert(!cplan.toLowerCase.contains("cartesian"), s"cartesian:\n$cplan")
    assert(cplan.contains("BroadcastHashJoin") || cplan.contains("BroadcastExchange"),
      s"bounded counter table not broadcast:\n$cplan")
  }

  test("IVF list assignment and probe selection run without a window sort") {
    import spark.implicits._
    val vecs = (0L until 40L).map(i =>
      (i, Array.tabulate(8)(j => math.sin(i * 8.0 + j).toFloat))).toDF("vec_id", "embedding")
    val queries = vecs.where($"vec_id" < 3)

    // AQE's toString appends an "== Initial Plan ==" duplicate — count
    // window operators in the final plan section only
    def finalPlan(df: org.apache.spark.sql.DataFrame): String =
      df.queryExecution.executedPlan.toString.split("== Initial Plan ==").head

    val ivf = graft.pipeline.Similarity.ivfTopK(vecs, queries,
      "vec_id", "embedding", k = 2, nlist = 4, nprobe = 2)
    ivf.collect()
    val ivfPlan = finalPlan(ivf)
    // the ONLY WindowExec allowed is the final per-query top-k ranking;
    // list assignment must be the NARROW row-local nearest_centroid fold
    // (round 10) — no aggregation, no exchange keyed by vector id at all
    assert("Window \\[".r.findAllIn(ivfPlan).size == 1,
      s"IVF assignment/probe regressed to a window sort:\n$ivfPlan")
    assert(ivfPlan.contains("graft_nearest_centroid"),
      s"assignment is not the narrow nearest_centroid kernel:\n$ivfPlan")
    assert(!ivfPlan.contains("partial_min"),
      s"assignment regressed to the shuffling min(struct) shape:\n$ivfPlan")

    val ivfpq = graft.pipeline.Quantization.ivfPqTopK(vecs, queries,
      "vec_id", "embedding", k = 2, nlist = 4, nprobe = 2, m = 2, codewords = 4)
    ivfpq.collect()
    val pqPlan = finalPlan(ivfpq)
    assert("Window \\[".r.findAllIn(pqPlan).size == 1,
      s"IVFPQ assignment/probe regressed to a window sort:\n$pqPlan")
  }

  test("quantization and k-means assignment are corpus-shuffle-free") {
    // range-backed input: a local Seq would fold the whole projection into
    // a LocalTableScan at optimization time and hide the plan under test
    val vecs = spark.range(60).select(col("id").as("vec_id"),
      expr("transform(sequence(0, 7), j -> sin(id * 8.0 + CAST(j AS DOUBLE)))")
        .as("embedding"))

    // int8Rows: a pure scan -> project -> explode plan, ZERO exchanges of
    // any kind (the per-vector scale folds row-locally in Int8Scale)
    val i8 = graft.pipeline.Quantization.int8Rows(vecs, "vec_id", "embedding")
    i8.collect()
    val i8Plan = i8.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    assert(!i8Plan.contains("Exchange"), s"int8Rows shuffles:\n$i8Plan")
    assert(i8Plan.contains("graft_int8_scale"), s"scale kernel missing:\n$i8Plan")

    // pqEncode: the codeword argmin folds row-locally; the only exchanges
    // belong to the tiny codebook prep — nothing may re-key the corpus by
    // vector id
    val pq = graft.pipeline.Quantization.pqEncode(vecs, "vec_id", "embedding",
      m = 2, k = 4)
    pq.collect()
    val pqPlan = pq.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    assert(pqPlan.contains("graft_nearest_centroid"), s"kernel missing:\n$pqPlan")
    assert(!pqPlan.contains("hashpartitioning(vec_id"),
      s"pqEncode re-keys the corpus by id:\n$pqPlan")

    // kmeans final assignment: the centroid fit is checkpoint-truncated,
    // so the served plan is scan -> broadcast crossJoin -> project with no
    // id-keyed exchange
    val km = graft.pipeline.Clustering.kmeans(vecs, "vec_id", "embedding",
      k = 4, iters = 1)
    km.collect()
    val kmPlan = km.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    assert(kmPlan.contains("graft_nearest_centroid"), s"kernel missing:\n$kmPlan")
    assert(!kmPlan.contains("hashpartitioning(vec_id"),
      s"kmeans assignment re-keys the corpus by id:\n$kmPlan")
  }

  test("chunking shuffles once with no window; covariance joins broadcast only") {
    import spark.implicits._
    val docs = Seq((1L, ("w " * 40).trim)).toDF("doc_id", "text")
    val ch = graft.pipeline.Curation.chunkDocuments(docs, "doc_id", "text",
      chunkSize = 8, stride = 6)
    ch.collect()
    val chPlan = ch.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    // membership comes from the arithmetic explode, never a corpus window
    assert(!chPlan.contains("Window ["), s"window in chunking:\n$chPlan")
    assert(!chPlan.toLowerCase.contains("cartesian"), s"cartesian in chunking:\n$chPlan")

    val vecs = (0L until 20L).map(i =>
      (i, Array.tabulate(4)(j => (i + j).toFloat))).toDF("vec_id", "embedding")
    val cov = graft.pipeline.Clustering.covariance(vecs, "embedding")
    cov.collect()
    val covPlan = cov.queryExecution.executedPlan.toString
    // the d-row mean table must ride broadcast joins; the second-moment
    // table must come from the ONE-pass fused aggregate (round 10:
    // CovMatrix folds the d(d+1)/2 cells row-locally — no per-pair row
    // explosion, partial mode map-side in ObjectHashAggregate)
    assert(!covPlan.contains("SortMergeJoin"), s"mean join not broadcast:\n$covPlan")
    assert(!covPlan.toLowerCase.contains("cartesian"), s"cartesian in covariance:\n$covPlan")
    // the aggregate is checkpoint-truncated out of the served plan; assert
    // the shape on the aggregate's own execution instead
    val m = vecs.agg(graft.functions.CovMatrix.covMatrix(
      col("embedding").cast("array<double>")))
    m.collect()
    val mPlan = m.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    assert(mPlan.contains("ObjectHashAggregate"), s"no object hash agg:\n$mPlan")
    assert(mPlan.contains("partial_graft_cov_matrix"),
      s"cov aggregate is not map-side partial:\n$mPlan")
    assert(!mPlan.contains("Generate"), s"row explosion survived:\n$mPlan")
  }

  test("DataFrame cc and PageRank iterate on equi-joins, no cartesian blowup") {
    import spark.implicits._
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("a", "b")
    val cc = graft.pipeline.ConnectedComponents.labels(pairs)
    cc.collect()
    val ccPlan = cc.queryExecution.executedPlan.toString
    assert(!ccPlan.toLowerCase.contains("cartesian"), s"cartesian in cc:\n$ccPlan")
    assert(!ccPlan.contains("BroadcastNestedLoopJoin"), s"nested-loop in cc:\n$ccPlan")

    val b = new graft.store.GraphBatch
    Seq("a", "b", "c").foreach(n => b.createNode(s"v:$n",
      graft.model.PropValue.typed("N", Some(n))))
    Seq(("a", "b"), ("b", "c")).foreach { case (s, d) =>
      b.createEdge(s"v:$s", s"v:$d", graft.model.PropValue("E")) }
    val g = b.toStore(spark)
    val toLong: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
      id => when(id === "v:a", 1L).when(id === "v:b", 2L).otherwise(3L)
    val pr = graft.analytics.GraphAnalytics.pageRankDF(g, toLong, numIter = 3)
    pr.collect()
    val prPlan = pr.queryExecution.executedPlan.toString
    // the only non-equi join allowed is the 1-row normalization broadcast
    assert(!prPlan.toLowerCase.contains("cartesian"), s"cartesian in pagerank:\n$prPlan")
  }

  test("multimodal decode paths are shuffle-free narrow maps") {
    // the codec boundary is a mapPartitions over (id, payload); features
    // come out of the same pass — any Exchange here means the decode
    // stopped being embarrassingly parallel
    val img = graft.pipeline.Multimodal.imageFeatures(
      graft.pipeline.Multimodal.syntheticImageAssets(spark, 6)).toDF()
    img.collect()
    val iPlan = img.queryExecution.executedPlan.toString
    assert(!iPlan.contains("Exchange"), s"shuffle in image decode:\n$iPlan")
    val aud = graft.pipeline.Multimodal.audioFeatures(
      graft.pipeline.Multimodal.syntheticAudioAssets(spark, 6)).toDF()
    aud.collect()
    val aPlan = aud.queryExecution.executedPlan.toString
    assert(!aPlan.contains("Exchange"), s"shuffle in audio decode:\n$aPlan")
    // the chained decode→resize→encode→decode pipeline composes two codec
    // boundaries and must STILL be one narrow pass
    val rsz = graft.pipeline.Multimodal.imageFeatures(
      graft.pipeline.Multimodal.resizeImages(
        graft.pipeline.Multimodal.syntheticImageAssets(spark, 6), maxDim = 5)).toDF()
    rsz.collect()
    val rPlan = rsz.queryExecution.executedPlan.toString
    assert(!rPlan.contains("Exchange"), s"shuffle in resize chain:\n$rPlan")
    val vid = graft.pipeline.Multimodal.videoFrameFeatures(
      graft.pipeline.Multimodal.syntheticVideoAssets(spark, 6), everyK = 2).toDF()
    vid.collect()
    val vPlan = vid.queryExecution.executedPlan.toString
    assert(!vPlan.contains("Exchange"), s"shuffle in video decode:\n$vPlan")
  }

  test("triangle wedge join is equi-keyed, never cartesian or nested-loop") {
    // compact-forward correctness depends on the wedge and closure joins
    // staying hash equi-joins on vertex keys — a cartesian fallback here
    // is the quadratic blowup the degree ordering exists to prevent
    val b = new graft.store.GraphBatch
    Seq("1", "2", "3", "4").foreach(n =>
      b.createNode(s"t:$n", graft.model.PropValue.typed("N", Some(n))))
    Seq(("1", "2"), ("2", "3"), ("3", "1"), ("3", "4"))
      .foreach { case (s, d) => b.createEdge(s"t:$s", s"t:$d", graft.model.PropValue("E")) }
    val g = b.toStore(spark)
    val df = graft.analytics.GraphAnalytics.triangleCountDF(
      g, id => org.apache.spark.sql.functions.split(id, ":").getItem(1).cast("long"))
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), s"cartesian in triangles:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin"), s"nested loop in triangles:\n$plan")
  }

  test("pcaProject: loadings/means ride broadcast joins, no corpus self-join") {
    import spark.implicits._
    val vecs = (0L until 12L).map(i =>
      (i, Array.tabulate(3)(j => (i * 2 + j).toFloat))).toDF("vec_id", "embedding")
    val proj = graft.pipeline.Clustering.pcaProject(vecs, "vec_id", "embedding",
      p = 2, iters = 2)
    proj.collect()
    val plan = proj.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    // round 10: the projection folds ROW-LOCALLY (CenteredProjection over
    // one broadcast means row + one broadcast loadings row) — no join of
    // any kind touches the corpus, and nothing re-keys it by id
    assert(!plan.contains("SortMergeJoin"), s"shuffled join in pca projection:\n$plan")
    assert(plan.contains("centered_projection") || plan.contains("centeredprojection"),
      s"projection is not the row-local fold:\n$plan")
    assert(!plan.contains("hashpartitioning(vec_id"),
      s"projection re-keys the corpus by id:\n$plan")
    assert(!plan.toLowerCase.contains("cartesianproduct"), s"cartesian in pca projection:\n$plan")
  }

  test("contamination matrix: corpus side stays narrow up to ONE aggregation") {
    import spark.implicits._
    val corpus = (0L until 40L).map(i =>
      (i, s"alpha beta gamma delta epsilon tok$i zeta eta theta")).toDF("doc_id", "text")
    val bench = Seq(("b1", 1L, "alpha beta gamma delta epsilon"),
      ("b2", 2L, "zeta eta theta iota kappa")).toDF("bench_id", "doc_id", "text")
    val m = graft.pipeline.Curation.contaminationMatrix(
      corpus, bench, "doc_id", "text", "bench_id", n = 3)
    m.collect()
    val plan = m.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    // the round-9 shape: benchmark grams broadcast onto the corpus shingle
    // stream (no SortMergeJoin — a shuffled join would move every corpus
    // shingle), no join back to recover the benchmark id (it rides the
    // window key), and the only corpus-wide exchange feeds the final
    // countDistinct aggregation
    assert(plan.contains("BroadcastHashJoin"), s"benchmark grams not broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"), s"corpus shingles shuffled into a join:\n$plan")
    assert(!plan.toLowerCase.contains("cartesianproduct"), s"cartesian:\n$plan")
  }

  test("path property extraction: fused assembly, no per-piece join chains") {
    val (batch, _) = CocktailFixture.build()
    val zc = new ZoeCompiler(batch.toStore(spark).persistAll())
    val gin = Zoe.start(CocktailFixture.prop("Ingredient", "gin"))
    val q = gin.referencingVertices.ingoing
      .intersect(Zoe.start(CocktailFixture.prop("Includes", "")).referencingEdges)
      .ingoing
    val df = zc.extractPathProperties(zc.run(q))
    df.collect()
    val plan = df.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    // the round-9 shape: start/end lookups ride the SAME exploded hop frame
    // as the hops (sentinel pseudo-positions), so the whole assembly is the
    // 4 property/element joins + one groupBy — a regression back to the
    // separate start/end chains shows up as extra join operators
    val joins = "(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin)".r
      .findAllIn(plan).size
    assert(joins <= 4, s"path assembly grew to $joins joins (start/end chains back?):\n$plan")
    assert(!plan.toLowerCase.contains("cartesianproduct"), s"cartesian in path assembly:\n$plan")
  }

  test("paragraph dedup: keep-first is a hash-keyed aggregate, never a content-keyed window") {
    import spark.implicits._
    val docs = Seq(
      (1L, "header\nalpha\nheader\nbeta"),
      (2L, "header\ngamma"),
      (3L, "header\nalpha")).toDF("doc_id", "text")
    val out = graft.pipeline.Dedup.paragraphDedup(docs, "doc_id", "text")
    out.collect()
    val plan = out.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    // hot paragraphs (empty lines, boilerplate) are the skewed keys of a web
    // corpus: the winner-per-paragraph step must be a partial-aggregating
    // groupBy on xxhash64(para) — a Window.partitionBy(content) does no
    // map-side combine and lands every occurrence of a hot key on one task
    assert(!plan.contains("Window ["), s"content-keyed window in paragraph dedup:\n$plan")
    assert(plan.contains("xxhash64"), s"winner key is not hashed:\n$plan")
    assert("partial_min".r.findAllIn(plan).nonEmpty,
      s"no map-side partial aggregation for the keep-first winner:\n$plan")
  }

  test("persisted ann serve: the corpus parquet never enters the serving plan") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft-annidx-plan").toString
    val corpus = (0L until 24L)
      .map(i => (i, Array(i * 0.5 + 1.0, 2.0 - i * 0.25, i * 0.125, 1.0)))
      .toDF("vec_id", "embedding")
    corpus.write.parquet(s"$base/corpus.parquet")
    val stored = spark.read.parquet(s"$base/corpus.parquet")
    val idx = graft.pipeline.AnnIndex.buildIvfPq(
      stored, "vec_id", "embedding", nlist = 2, m = 2, codewords = 3)
    graft.pipeline.AnnIndex.save(idx, s"$base/idx")
    val loaded = graft.pipeline.AnnIndex.load(spark, s"$base/idx")
    val queries = Seq((0L, Array(1.0, 2.0, 0.0, 1.0))).toDF("vec_id", "embedding")
    val served = graft.pipeline.AnnIndex.search(
      loaded, queries, "vec_id", "embedding", k = 3, nprobe = 2)
    served.collect()
    val plan = served.queryExecution.executedPlan.toString
    // the whole point of the persisted index: serving reads the stored
    // codes (m ints + a list id per vector), never the raw embeddings
    assert(!plan.contains("corpus.parquet"),
      s"raw corpus scanned in the serving plan:\n$plan")
    assert(plan.contains("codes.parquet"),
      s"stored codes not in the serving plan:\n$plan")
  }

  test("incremental dedup: batch winner is a partial-aggregating groupBy, never a hash-keyed window") {
    import spark.implicits._
    val batch = Seq((10L, "same"), (11L, "same"), (12L, "other"))
      .toDF("doc_id", "text").repartition(2)
    val index = Seq("deadbeef").toDF("hash")
    val out = graft.pipeline.Dedup.dedupIncrement(index, batch, "doc_id", "text")
    assert(out.select("doc_id").as[Long].collect().sorted.toSeq == Seq(10L, 12L))
    val plan = out.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    // a daily batch's hottest content groups (boilerplate pages) must
    // combine map-side: Window.partitionBy(md5(text)) landed every
    // occurrence of a hot group on one task with zero partial aggregation
    assert(!plan.contains("Window ["), s"content-hash window in incremental dedup:\n$plan")
    assert("partial_min_by".r.findAllIn(plan).nonEmpty,
      s"no map-side partial aggregation for the batch winner:\n$plan")
  }

  test("paragraph/line explode evaluates split() once per document, below the Generate") {
    import spark.implicits._
    // repartition blocks ConvertToLocalRelation from constant-folding the
    // split over the literal rows, so the split stays in the physical plan
    val docs = Seq((1L, "a\nb\nc"), (2L, "d\ne")).toDF("doc_id", "text").repartition(2)
    // a size(split(text)) projected ALONGSIDE posexplode(split(text)) plans
    // the size() ABOVE the generator, re-splitting the whole document once
    // per exploded row — O(lines × doclen) per doc, measured 50× on
    // composite documents. The fixed shape materializes the array in a
    // projection below the Generate, so the physical plan carries exactly
    // one split() and the Generate's input is a bare attribute.
    for (out <- Seq(
        graft.pipeline.Dedup.paragraphDedup(docs, "doc_id", "text"),
        graft.pipeline.Curation.lineFilter(docs, "doc_id", "text", minWords = 1))) {
      out.collect()
      val plan = out.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
      val splits = "split\\(".r.findAllIn(plan).length
      assert(splits == 1, s"expected exactly one split() in the physical plan, got $splits:\n$plan")
      assert(!plan.matches("(?s).*Generate posexplode\\(split.*"),
        s"generator input is a live split(), not a materialized array:\n$plan")
    }
  }

  /** The executed plan of hop `hop` of a walk family from its start
    * frontier — one hop of the shared walk loop, before any barrier. */
  private def walkHopPlan(w: graft.analytics.GraphAnalytics.WalkFamily, hop: Int): String = {
    val out = graft.analytics.GraphAnalytics.walkHop(w, seed = "plan")(
      graft.analytics.GraphAnalytics.walkStart(w), hop)
    out.collect()
    out.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
  }

  test("random walks: hop joins are equi-keyed, no cartesian or nested loop") {
    import spark.implicits._
    val edges = Seq((0L, 1L), (1L, 2L), (2L, 0L), (1L, 0L), (2L, 1L), (0L, 2L))
      .toDF("src", "dst")
    // one hop of the shared walk loop, as a live plan (the loop itself
    // checkpoints at its barriers, which would hide the joins)
    val plan = walkHopPlan(graft.analytics.GraphAnalytics.uniformWalk(edges), hop = 1)
    // each hop must join exactly one adjacency row per live walk — a
    // degree-expanded candidate set (join on src alone, rank filtered
    // after) or a nested loop would blow up on hub nodes at corpus scale
    assert(plan.contains("Join"), s"hop joins missing from the live plan:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"cartesian in walk plan:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin"), s"nested loop in walk plan:\n$plan")
  }

  test("weighted walks: ladder hop keeps an equi key, slot lands row-locally") {
    import spark.implicits._
    val edges = Seq((0L, 1L, 2L), (0L, 2L, 3L), (1L, 0L, 1L), (2L, 0L, 1L))
      .toDF("src", "dst", "weight")
    val plan = walkHopPlan(graft.analytics.GraphAnalytics.weightedWalk(edges), hop = 1)
    // each hop equi-joins the frontier against the (node, ladder-array)
    // adjacency and lands the slot inside the row (round 16) — a
    // pure-theta plan (nested loop) would evaluate every walk against
    // every adjacency row
    assert(plan.contains("Join"), s"hop joins missing from the live plan:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"cartesian in weighted walk plan:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin"), s"nested loop in weighted walk plan:\n$plan")
  }

  test("sgnsNegatives: slot lookup is a binned equi-join, never nested loop") {
    import spark.implicits._
    val pairs = Seq((1L, 2L, 4L), (2L, 3L, 7L), (3L, 1L, 2L))
      .toDF("center", "context", "n_pairs")
    val out = graft.analytics.GraphAnalytics.sgnsNegatives(pairs, k = 2)
    out.collect()
    val plan = out.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    // the pick→ladder containment must ride the __bin equi key — a plain
    // range predicate would compile to a nested loop over the vocabulary
    assert(!plan.contains("CartesianProduct"), s"cartesian in negatives plan:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin"), s"nested loop in negatives plan:\n$plan")
    assert(plan.contains("__bin"), s"binned slot key missing from plan:\n$plan")
  }

  test("node2vecWalks: frontier-adjacency hop joins stay equi-keyed") {
    import spark.implicits._
    val edges = Seq((0L, 1L), (1L, 0L), (1L, 2L), (2L, 1L), (2L, 0L), (0L, 2L))
      .toDF("src", "dst")
    // hop 2: the first hop is uniform, later hops run the biased ladder
    val plan = walkHopPlan(
      graft.analytics.GraphAnalytics.node2vecWalk(edges, retMilli = 250, outMilli = 2000), hop = 2)
    // each hop joins the one-row-per-walk frontier against the adjacency
    // ARRAY table on its node equi-key (round 16: the bias ladder and the
    // (prev, dst) membership test are row-local array aggregates, not a
    // membership join) — a residual-only form would nested-loop every
    // walk against the whole adjacency
    assert(plan.contains("Join"), s"hop joins missing from the live plan:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"cartesian in node2vec plan:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin"), s"nested loop in node2vec plan:\n$plan")
  }

  test("rare-shingle candidates: one per-shingle aggregation, no shingle-keyed join") {
    import spark.implicits._
    // docs 1/2 share a rare shingle hash (the one candidate pair); 3..6
    // hold singleton hashes and form no pair
    val sh = Seq(
      (1L, 10L), (1L, 11L), (2L, 10L), (2L, 12L),
      (3L, 13L), (4L, 14L), (5L, 15L), (6L, 16L)).toDF("doc", "__h")
    val out = graft.pipeline.Dedup.rarePairsOnHashed(sh, maxDf = 8)
    assert(out.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq == Seq((1L, 2L)))
    // the candidate pairs must come from ONE per-shingle aggregation
    // (pair arrays unfolded in place), never a rare-table self-join: a
    // join keyed on the shingle hash would be the three-pass self-join
    // shape this rewrite removed
    val plan = out.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    assert(plan.contains("collect_set"), s"no per-shingle doc-set aggregation in plan:\n$plan")
    assert(!"""Join \[__h#\d+L?\]""".r.findFirstIn(plan).isDefined,
      s"shingle-keyed join survived (self-join candidate shape):\n$plan")
  }

  test("skip-gram pairs: context join is equi-keyed on (walk_id, step), no residual window scan") {
    import spark.implicits._
    val walks = Seq(
      (10L, 0L, 10L), (10L, 1L, 11L), (10L, 2L, 12L), (10L, 3L, 13L),
      (20L, 0L, 20L), (20L, 1L, 21L)).toDF("walk_id", "step", "node")
    val out = graft.analytics.GraphAnalytics.walkSkipGramPairs(walks, window = 2)
    out.collect()
    // the 2·window·|rows| pair bound must be STRUCTURAL: the context join
    // keys on BOTH walk_id and the exploded step offset. A walk_id-only
    // equi-join with |sa-sb| <= window as a residual pays (walkLen+1)²
    // comparisons per walk — 10-20× the CPU at DeepWalk-typical len 40-80.
    val plan = out.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    val joinKeys = """(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin) \[([^\]]*)\]"""
      .r.findAllMatchIn(plan).map(_.group(2)).toSeq
    assert(joinKeys.nonEmpty, s"no hash/merge join in skip-gram plan:\n$plan")
    assert(joinKeys.forall(k => k.contains("walk_id#") && k.contains("step#")),
      s"skip-gram join not keyed on (walk_id, step): keys $joinKeys\n$plan")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"non-equi join in skip-gram plan:\n$plan")
    assert(!plan.toLowerCase.contains("abs("),
      s"residual window test survived in the skip-gram join:\n$plan")
  }

  test("NB classify: tf partial-aggregates, argmax is an aggregate not a window, no cartesian") {
    import spark.implicits._
    val docs = Seq(
      (1L, "apple banana apple", "a"),
      (2L, "bolt nut", "b"),
      (3L, "apple nut nut", "a")).toDF("doc_id", "text", "lang")
    val (wm, lt) = graft.pipeline.TextAnalysis.naiveBayesModel(docs, "text", "lang")
    val out = graft.pipeline.TextAnalysis.naiveBayesClassify(docs, "doc_id", "text", wm, lt)
    out.collect()
    val plan = out.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    // the per-doc term-frequency and argmax steps must both combine
    // map-side (hot words / wide docs never pool on one task), and the
    // label expansion must be the bounded broadcast, not a cartesian
    assert(!plan.contains("CartesianProduct"), s"cartesian in NB classify:\n$plan")
    assert(!plan.contains("Window ["), s"windowed argmax in NB classify:\n$plan")
    assert("partial_count".r.findAllIn(plan).nonEmpty,
      s"no map-side partial tf aggregation:\n$plan")
    assert("partial_min".r.findAllIn(plan).nonEmpty,
      s"argmax is not a partial-aggregating min(struct):\n$plan")
  }

  test("DSIR: bucket model joins broadcast, selection is TakeOrdered, no corpus cartesian") {
    import spark.implicits._
    val docs = Seq((1L, "a b c d", true), (2L, "a b x", false), (3L, "x y z", false))
      .toDF("doc_id", "text", "tgt")
    val df = graft.pipeline.Curation.dsirSelect(docs, "doc_id", "text", col("tgt"), k = 2)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    // global top-k must be per-partition heaps + a k-row driver merge
    // (pre-adaptive plan: AQE hides a driver-served root TakeOrdered)
    assert(df.queryExecution.sparkPlan.toString.contains("TakeOrderedAndProject"),
      s"DSIR selection is a full sort, not TakeOrdered:\n$plan")
    // the 256-row model rides a broadcast into the feature stream
    assert(plan.contains("BroadcastHashJoin"),
      s"bucket model not broadcast into the scoring join:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"cartesian in DSIR plan:\n$plan")
  }

  test("adamic-adar: wedge join stays equi-keyed, selection is TakeOrdered") {
    import spark.implicits._
    val pairs = Seq((1L, 3L), (2L, 3L), (1L, 4L), (2L, 4L), (3L, 4L)).toDF("a", "b")
    // the live body the public function checkpoints
    val ga = graft.analytics.GraphAnalytics
    val canon = ga.canonicalPairs(pairs)
    val df = ga.adamicAdarTopK(canon, ga.adamicAdarAdjacency(canon, maxDegree = 1000), topK = 3)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"non-equi join in adamic-adar plan:\n$plan")
    // AQE serves a root TakeOrdered driver-side and omits it from the
    // result stage's printed tree — assert on the pre-adaptive plan
    val spark0 = df.queryExecution.sparkPlan.toString
    assert(spark0.contains("TakeOrderedAndProject"),
      s"adamic-adar selection is a full sort:\n$spark0")
  }

  test("token-budget selection: whole buckets ride a semi-join; corpus rows meet at most the boundary window") {
    import spark.implicits._
    val rows = (1L to 40L).map(i => ("g" + (i % 2), i, 10L, (i % 7) / 10.0))
      .toDF("grp", "doc_id", "tk", "sc")
    // the live body the public function checkpoints
    val cur = graft.pipeline.Curation
    val df = cur.budgetKept(cur.budgetBase(rows, "doc_id", "tk", "sc", "grp"), "doc_id", 60L)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    // whole-bucket membership is a semi-join, not an ordered scan
    assert(plan.contains("LeftSemi"), s"whole-bucket keep lost its semi-join:\n$plan")
    // exactly ONE Window operator reaches corpus rows: the boundary-bucket
    // cut (the bucket prefix sum lives behind its own checkpoint on the
    // tiny (group × bucket) frame) — a corpus-wide group-keyed greedy
    // would put every document through an ordered window here
    val windows = "Window \\[".r.findAllIn(plan).length
    assert(windows == 1, s"expected 1 window (the boundary cut), got $windows:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"cartesian in budget plan:\n$plan")
  }

  test("per-key top-m paths keep the two-phase shard prune in the plan") {
    import spark.implicits._
    // clusterPrototypes and userSequences both promise that no single
    // window keyed by a low-cardinality column (cid / user_id) sees the
    // whole corpus: the local (key, __shard) prune must survive in the
    // executed plan — if someone simplifies it away, __shard disappears.
    val vecs = (1L to 20L).map(i => (i, Seq(i.toFloat, 0.0f))).toDF("vec_id", "embedding")
    val proto = graft.pipeline.Clustering.clusterPrototypes(
      vecs, "vec_id", "embedding", k = 2, iters = 1, perCluster = 2)
    proto.collect()
    val protoPlan = proto.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    assert(protoPlan.contains("__shard"),
      s"prototype top-m lost its local shard prune:\n$protoPlan")
    val ev = (1L to 30L).map(i => (1L, i, i, "a")).toDF("user_id", "tns", "event_id", "event_type")
    val seqs = graft.streaming.EventStreams.userSequences(ev, maxLen = 3)
    seqs.collect()
    val seqPlan = seqs.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    assert(seqPlan.contains("__shard"),
      s"user-sequence prefix lost its local shard prune:\n$seqPlan")
    // the bounded prefix is assembled by collect_list AFTER the prune
    assert(seqPlan.contains("collect_list"), s"no bounded prefix aggregation:\n$seqPlan")
  }

  test("composed curation pipeline: one lazy chain, no cartesian, bounded exchange count") {
    // curate_pipeline chains filter -> decon -> exact dedup -> near-dup cc
    // -> pack -> manifest with EXPLICIT reuse points: stage outputs with
    // downstream fan-out > 1 are checkpointed (the fully-lazy form
    // re-ran the quality/langid/decon prefix once per downstream scan —
    // 122.9 s vs ~15 s sum-of-parts at sf0.1), everything else stays
    // lazy, with equi-joins only and an exchange count that stays fixed
    // as data grows (exchanges scale the plan's shuffle count, not rows)
    val df = SparkEntry.queries("curate_pipeline")(spark, dir)
    df.collect() // finalize adaptive plans
    val plan = df.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    assert(!plan.toLowerCase.contains("cartesianproduct"), s"cartesian:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin"), s"nested-loop:\n$plan")
    // the post-cc tail (anti-join, pack window, rollup) plus the fused
    // per-doc predicate head: a bounded handful of exchanges, not one per
    // stage per scan — regression here means a stage added a hidden
    // materialization or lost its map-side combine
    val exchanges = "Exchange".r.findAllIn(plan).size
    assert(exchanges <= 20, s"composed chain grew to $exchanges exchanges:\n$plan")
  }

  test("every memo is state-independent (cold build = warm read) and a bust releases what it built") {
    // a memo must be a pure materialization: busting it and rebuilding
    // must yield bit-identical query results (pinned for every memo, so a
    // future memo of a nondeterministic frame fails fast), and a bust must
    // unpersist the memo's frames and checkpoints and delete its temp dirs
    // before the next build, not when the JVM exits. One consumer entry
    // per memo; a memo that is a whole entry's result is its own consumer.
    val consumer = Map(
      "base_table" -> "agg_pricing_summary",
      "tpch_graph" -> "zoe_v_all",
      "sym_edges" -> "graph_lpa_df",
      "co_purchase_probe" -> "graph_kcore_df",
      "co_purchase_pairs" -> "graph_louvain_move",
      "walk_corpus" -> "graph_random_walks",
      "louvain_partition" -> "graph_louvain_refine",
      "leiden_partition" -> "graph_leiden",
      "stream_graph_ingest_fixture" -> "stream_graph_ingest",
      "stream_fixture" -> "events_stream_dedup",
      "nb_serve_model" -> "stream_nb_classify",
      "clique_pairs" -> "graph_triangles_df",
      "neardup_labels" -> "curate_dup_clusters_df",
      "ivfpq_index" -> "ann_ivfpq_rerank",
      "ivfpq_codes" -> "ann_ivfpq_topk",
      "saved_ann_index" -> "ann_ivfpq_serve")
    def rows(name: String): Seq[String] =
      SparkEntry.queries(name)(spark, dir).collect().map(_.toString).sorted.toSeq
    // a Fixture feeds memos of every kind, so its bust takes them all
    def bustKinds(kind: Memo.Kind): Seq[Memo.Kind] =
      if (kind == Memo.Fixture) Memo.kinds else Seq(kind)
    def frames(v: Any): Seq[org.apache.spark.sql.DataFrame] = v match {
      case ds: org.apache.spark.sql.Dataset[_] => Seq(ds.toDF())
      case p: Product => p.productIterator.flatMap(frames).toSeq
      case _ => Nil
    }
    def isCached(df: org.apache.spark.sql.DataFrame): Boolean =
      df.storageLevel != org.apache.spark.storage.StorageLevel.NONE
    def cachedEntries: Int = org.apache.spark.sql.GraftCacheProbe.cachedEntryCount(spark)
    for (m <- Memo.all) {
      val entry = consumer.getOrElse(m.name, m.name)
      assert(SparkEntry.queries.contains(entry), s"${m.name}: no consumer entry")
      val kinds = bustKinds(m.kind)
      kinds.foreach(Memo.bust(_, spark, dir))
      val cold = rows(entry)
      assert(rows(entry) == cold, s"${m.name}: warm read differs from the cold build")
      val held = m.held(spark, dir)
      assert(held.nonEmpty, s"${m.name}: $entry did not build it")
      val fs = held.flatMap(b => frames(b.value))
      val rdds = fs.flatMap(_.queryExecution.analyzed.collect {
        case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd.id
      }).toSet
      // the cache entries every memo the bust drops holds right now
      val dropped = Memo.all.filter(o => kinds.contains(o.kind))
        .flatMap(_.held(spark, dir)).flatMap(b => frames(b.value)).count(isCached)
      val before = cachedEntries
      kinds.foreach(Memo.bust(_, spark, dir))
      assert(m.held(spark, dir).isEmpty, s"${m.name}: bust left values")
      assert(cachedEntries == before - dropped, s"${m.name}: bust left cached relations")
      assert(!fs.exists(isCached), s"${m.name}: bust left a persisted frame")
      val left = rdds & spark.sparkContext.getPersistentRDDs.keySet.toSet
      assert(left.isEmpty, s"${m.name}: bust left checkpoints $left")
      held.flatMap(_.tempDirs).foreach(d =>
        assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(d)), s"${m.name}: bust left $d"))
      assert(rows(entry) == cold, s"${m.name}: rebuild after a second bust differs")
    }
  }

  test("every entry a memo is staged or timed cold for is a query entry") {
    val names = Memo.all.flatMap(m => m.stagedFor.keys ++ m.coldFor)
    assert(names.nonEmpty)
    names.foreach(n => assert(SparkEntry.queries.contains(n), s"$n is not in SparkEntry.queries"))
  }

  test("inventory: unique names, an oracle per entry, every sibling benched") {
    import SparkEntry.{Entry, SiblingOf}
    val names = SparkEntry.entries.map(_.name)
    assert(names.distinct == names, s"duplicate names: ${names.diff(names.distinct)}")
    SparkEntry.entries.foreach(e => assert(e.oracleSql.trim.nonEmpty, s"${e.name}: empty oracle"))
    val benched = SparkEntry.benched.toSet
    SparkEntry.entries.collect { case Entry(n, _, _, SiblingOf(x)) => n -> x }
      .foreach { case (n, x) => assert(benched(x), s"$n is a sibling of $x, which is not benched") }
    assert(benched.subsetOf(SparkEntry.queries.keySet))
    assert(SparkEntry.oracleSql.keySet == SparkEntry.queries.keySet)
  }

  test("an unknown entry name fails the selection, and the error names it") {
    val e = intercept[IllegalArgumentException](
      SparkEntry.select(Seq("zoe_v_all", "zoe_v_al", "no_such_entry")))
    assert(e.getMessage.contains("zoe_v_al,") && e.getMessage.contains("no_such_entry"), e.getMessage)
    assert(!e.getMessage.contains("zoe_v_all"), e.getMessage)
    assert(SparkEntry.select(Seq("graph_lpa_df", "zoe_v_all")).map(_.name) ==
      Seq("zoe_v_all", "graph_lpa_df"))
  }
}

package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.analytics.GraphAnalytics
import graft.exec.ZoeCompiler
import graft.Materialize.{checkpoint, persist}
import graft.model.{GraphStore, Hashing, PropValue}
import graft.ql._
import graft.SparkEntry.{Entry, Micro, SiblingOf}

/** Driver-facing query inventory: one entry per operator of SURVEY.md §2,
  * exercised over the deterministic TpchGraph mapping so each graph query has
  * an ANSI-SQL oracle over the same parquet tables (driver runs it in DuckDB
  * and hash-compares). Column names/aliases are identical on both sides.
  */
object GraphQueries {

  private def graph(spark: SparkSession, dir: String): GraphStore =
    TpchGraph.build(spark, dir)
  private def compiler(spark: SparkSession, dir: String): ZoeCompiler =
    new ZoeCompiler(graph(spark, dir))
  private def t(spark: SparkSession, dir: String, name: String): DataFrame =
    TpchGraph.table(spark, dir, name)

  // -- shared Zoe sub-queries ------------------------------------------------

  private def vType(variant: String): VertexQuery =
    Zoe.start(PropValue.schemaType(variant)).referencingProperties.referencingVertices
  private def edgeProp(variant: String): EdgeQuery =
    Zoe.start(PropValue(variant)).referencingEdges
  private def nationV(name: String): VertexQuery =
    Zoe.start(PropValue.typed("Nation", Some(name))).referencingVertices
  private def segmentV(name: String): VertexQuery =
    Zoe.start(PropValue.typed("Segment", Some(name))).referencingVertices

  /** Members (customers + suppliers) of a nation: V.In of its InNation edges. */
  private def membersOf(nation: String): VertexQuery =
    nationV(nation).ingoing.intersect(edgeProp("InNation")).ingoing
  private def customersOf(nation: String): VertexQuery =
    membersOf(nation).intersect(vType("Customer"))
  private def customersInSegment(seg: String): VertexQuery =
    segmentV(seg).ingoing.intersect(edgeProp("InSegment")).ingoing
  /** Customers of a region via the 2-hop region<-nation<-customer chain. */
  private def customersOfRegion(region: String): VertexQuery =
    Zoe.start(PropValue.typed("Region", Some(region))).referencingVertices
      .ingoing.intersect(edgeProp("InRegion")).ingoing
      .ingoing.intersect(edgeProp("InNation")).ingoing
      .intersect(vType("Customer"))

  /** Deterministic long ids for the whole-graph algorithms over the
    * region/nation/supplier/customer subgraph: disjoint offset ranges so
    * connectedComponents' "min id in component" is reproducibly the
    * region's key. */
  private val analyticsToLong: Column => Column = { id =>
    val prefix = split(id, ":").getItem(0)
    val key = split(id, ":").getItem(1).cast("long")
    when(prefix === "region", key)
      .when(prefix === "nation", key + 100L)
      .when(prefix === "supplier", key + 10000L)
      .when(prefix === "customer", key + 1000000L)
  }

  /** The region/nation/supplier/customer subgraph with InNation/InRegion
    * edges only (segments/orders would merge all components into one). */
  private def analyticsSubgraph(g: GraphStore): GraphStore = {
    val keep = Seq("region", "nation", "supplier", "customer")
    g.copy(
      vertices = g.vertices.where(split(col("id"), ":").getItem(0).isin(keep: _*)),
      edges = g.edges.where(col("prop_hash").isin(
        TpchGraph.unitHash("InNation"), TpchGraph.unitHash("InRegion"))))
  }

  /** graphx_pagerank / graph_pagerank_df: 10-round static PageRank over
    * the analytics subgraph, ranks rounded to 5 places. */
  private def analyticsPageRank(s: SparkSession, d: String): DataFrame =
    GraphAnalytics.pageRankDF(analyticsSubgraph(graph(s, d)), analyticsToLong, numIter = 10)
      .select(col("id"), round(col("rank"), 5).as("rank"))

  /** graphx_shortest_paths / graph_sssp_df: hop counts to the five region
    * landmarks along the member->nation->region edge direction. */
  private def analyticsShortestPaths(s: SparkSession, d: String): DataFrame =
    GraphAnalytics.shortestPathsDF(analyticsSubgraph(graph(s, d)), analyticsToLong,
      landmarks = Seq(0L, 1L, 2L, 3L, 4L))

  // -- inventory -------------------------------------------------------------

  // the symmetrized+deduplicated LPA edge table is loop-invariant AND
  // call-invariant — persist it once per (session, dir) next to the graph
  // tables instead of paying its union+distinct shuffle on every call
  private val symEdges = Memo("sym_edges", Memo.Fixture) { (s, d) =>
    persist(GraphAnalytics.symmetrizedEdges(analyticsSubgraph(graph(s, d)), analyticsToLong),
      fill = true)
  }

  /** The thresholded co-purchase pair graph every walk / community /
    * link-prediction entry builds on — parts sharing >= 2 distinct
    * orders, per-order fan-out capped at the
    * [[GraphAnalytics.coPurchasePairs]] default (TPC-H orders carry <= 7
    * lineitems, so the cap never bites here; it guards the 100 TB
    * hot-basket case). The DuckDB oracles mirror the SAME dense_rank cap
    * in their shared ep CTE (ADVICE r14), so a fixture key with > 256
    * distinct items degrades identically on both engines rather than
    * diverging at the gate. Returns (a, b, w), a < b.
    *
    * The cap-decision PROBE (one eager max-fan-out rollup to a driver
    * scalar) is memoized per (session, dir) — VERDICT r15 #3: ~10
    * consumers were each re-paying the ~1 s probe per call. The memo is
    * corpus METADATA (like the staged stream fixtures), not any entry's
    * measured work, so it is a Fixture the bench never busts.
    *
    * The pair FRAME itself is ALSO memoized and materialized per
    * (session, dir) — round 17, the second half of VERDICT r15 #3: the
    * lineitem self-join + countDistinct rollup is the one pre-pass a
    * deployment pays per corpus version, and ~13 graph entries were each
    * re-executing it inside their own timed plan (~1-1.5 s apiece at
    * sf0.1). Consumers now read one eager [[Materialize.checkpoint]]: its
    * LogicalRDD keeps the origin plan's size estimate (the cap binds only
    * on an estimate above spark.sql.defaultSizeInBytes), so downstream
    * join strategies are the ones the in-plan subtree got.
    * Bench semantics: a Shared memo, so every memo-cold entry (louvain/
    * leiden ascents, the walk-corpus family) still times the build inside
    * its cold pipeline; the warm-family consumers (ktruss/kcore/quality/
    * move/...) are staged untimed and time ONLY their own algorithm — the
    * graph_louvain_refine precedent (VERDICT r14 #3). Without the explicit
    * stage, whether an entry paid the lineitem self-join depended on run
    * order (a preceding memo-cold entry busts the memo — the ADVICE r12
    * coupling). */
  private val coPairsProbe = Memo("co_purchase_probe", Memo.Fixture) { (s, d) =>
    GraphAnalytics.coPurchaseFanoutExceeds(coPurchaseLineitems(s, d), "o", "p", maxPerKey = 256)
  }
  private val coPairs = Memo("co_purchase_pairs", Memo.Shared, stagedFor = Set(
      "graph_ktruss", "graph_kcore_df", "graph_adamic_adar",
      "graph_assortativity", "graph_clustering_coeff", "graph_louvain_move",
      "graph_weighted_walks", "graph_walk_pairs_long", "graph_node2vec_walks",
      "graph_node2vec_walks_long",
      // the louvain/leiden consumers read the pairs directly too, and a
      // warm partition memo short-circuits before touching them
      "graph_louvain_refine", "graph_louvain_quality", "graph_leiden_quality")) { (s, d) =>
    checkpoint(GraphAnalytics.coPurchasePairs(coPurchaseLineitems(s, d), "o", "p", minShared = 2,
      capDecided = Some(coPairsProbe(s, d))))
  }
  /** The oracle's co-purchase pairs CTE, `name AS MATERIALIZED (...)`:
    * part pairs (a < b) that share >= 2 orders, each order's parts capped
    * at 256 — the SQL twin of [[coPairs]] — with their weight `w` when
    * `withW`. */
  private def coPairsCte(name: String, withW: Boolean = false): String =
    s"""$name AS MATERIALIZED (
       |  SELECT a, b${if (withW) ", w" else ""} FROM (
       |    SELECT l1.p AS a, l2.p AS b, count(DISTINCT l1.o) AS w
       |    FROM (SELECT o, p FROM (SELECT l_orderkey AS o, l_partkey AS p,
       |        dense_rank() OVER (PARTITION BY l_orderkey ORDER BY l_partkey) AS r
       |        FROM lineitem) cb1 WHERE r <= 256) l1
       |    JOIN (SELECT o, p FROM (SELECT l_orderkey AS o, l_partkey AS p,
       |        dense_rank() OVER (PARTITION BY l_orderkey ORDER BY l_partkey) AS r
       |        FROM lineitem) cb2 WHERE r <= 256) l2 ON l1.o = l2.o
       |    WHERE l1.p < l2.p GROUP BY 1, 2)
       |  WHERE w >= 2)""".stripMargin

  private def coPurchaseLineitems(s: SparkSession, d: String): DataFrame =
    t(s, d, "lineitem").select(col("l_orderkey").as("o"), col("l_partkey").as("p"))

  // the walk corpus is already a chain of eager localCheckpoints —
  // memoize it per (session, dir) so the walks query and the skip-gram
  // pair queries share one materialization; each consumer is timed cold
  // and pays the full walk build
  private val coPurchaseWalks = Memo("walk_corpus", Memo.Shared, coldFor = Set(
      "graph_random_walks", "graph_walk_pairs", "graph_walk_negatives",
      "graph_walk_subsample", "graph_walk_pmi")) { (s, d) =>
    val pairs = coPairs(s, d)
    val sym = pairs.select(col("a").as("src"), col("b").as("dst"))
      .unionByName(pairs.select(col("b").as("src"), col("a").as("dst")))
    GraphAnalytics.randomWalks(sym, walkLen = 4)
      .select(col("walk_id").cast("long"), col("step"), col("node").cast("long"))
  }

  // the 3×8 louvain ascent over the co-purchase graph, memoized per
  // (session, dir, weighted): the partition is the shared input of the
  // louvain / refine / quality gate entries, so the gate pays the
  // 48-round ascent once per variant instead of once per consumer — and
  // graph_louvain_refine measures the refinement cc ALONE instead of by
  // subtraction between two noisy full-ascent numbers (VERDICT r14 #3).
  // louvain() checkpoints its final mapping, so the cached frame is a
  // cheap scan of that checkpoint. The ascent entries are timed cold; the
  // refine/quality consumers are staged with the unit-weight partition
  // and time only their own work.
  private val louvainPartition = Memo.keyed[Boolean, DataFrame]("louvain_partition", Memo.Shared,
      stagedFor = Seq("graph_louvain_refine", "graph_louvain_quality", "graph_leiden_quality")
        .map(_ -> false).toMap,
      coldFor = Set("graph_louvain", "graph_louvain_weighted")) { (s, d, weighted) =>
    val pairs = coPairs(s, d)
    val sym =
      if (weighted) pairs.select(col("a"), col("b"), col("w"))
        .unionByName(pairs.select(col("b").as("a"), col("a").as("b"), col("w")))
      else pairs.select(col("a"), col("b"))
        .unionByName(pairs.select(col("b").as("a"), col("a").as("b")))
    GraphAnalytics.louvain(sym, maxLevels = 3, maxRounds = 8)
  }

  // the 3×8 interleaved-leiden partition over the same co-purchase
  // graph, memoized like louvainPartition: the shared input of the
  // graph_leiden and graph_leiden_quality entries (VERDICT r15 #4 —
  // memoize once consumers grow past one). leiden() returns one join of
  // two checkpoints, so the cached frame is a cheap scan. graph_leiden is
  // timed cold; the quality entry is staged with BOTH partitions and
  // times two modularity rollups, not two ascents.
  private val leidenPartition = Memo("leiden_partition", Memo.Shared,
      stagedFor = Set("graph_leiden_quality"), coldFor = Set("graph_leiden")) { (s, d) =>
    val pairs = coPairs(s, d)
    val sym = pairs.select(col("a"), col("b"))
      .unionByName(pairs.select(col("b").as("a"), col("a").as("b")))
    GraphAnalytics.leiden(sym, maxLevels = 3, maxRounds = 8)
  }

  // staged multi-file event source for stream_graph_ingest (see
  // PipelineQueries.streamFixtures for the staging rationale): the
  // one-time input, which survives the bench's stream-memo bust
  private val ingestFixture = Memo("stream_graph_ingest_fixture", Memo.Fixture,
      stagedFor = Set("stream_graph_ingest")) { (s, d) =>
    val src = Memo.tempDir("graft-sgi-src")
    t(s, d, "events").select(col("event_id"),
        timestamp_seconds(expr("ts DIV 1000000000")).as("ts"),
        col("user_id"), col("event_type"),
        col("value").cast("double").as("value"), lit("").as("props"))
      .repartition(6).write.mode("overwrite").parquet(src)
    src
  }

  /** Synchronous min-label LPA over a raw symmetrized edge table — the
    * [[GraphAnalytics.labelPropagationDF]] core (count desc, label asc
    * winner per round) without the GraphStore vertex frame, for graphs
    * that exist only as edges (the co-purchase graph). Used by the
    * quality row as the cheap-baseline partition. */
  private def lpaOverSym(sym: DataFrame, rounds: Int): DataFrame =
    GraphAnalytics.labelPropagation(sym,
        checkpoint(
          sym.select(col("a").as("vid")).distinct().select(col("vid"), col("vid").as("lbl"))),
        rounds)
      .select(col("vid"), col("lbl").as("label"))

  /** k-core oracle: peeling unrolled to a FIXED depth — peeling is
    * idempotent at the fixpoint, so unrolling past convergence (16 rounds
    * vs the 11 measured at sf0.01) reproduces the converge-to-fixpoint run
    * exactly. Every round references its predecessor twice, so each CTE is
    * MATERIALIZED (DuckDB inlines plain CTEs; 16 doublings would explode —
    * the power-iteration oracle's lesson). */
  private val kCoreSql: String = {
    val rounds = 16
    val steps = (1 to rounds).map { i =>
      s"""d$i AS MATERIALIZED (SELECT s.a AS vid, count(*) AS deg FROM sym s
         |  JOIN l${i - 1} x ON s.a = x.vid JOIN l${i - 1} y ON s.b = y.vid
         |  GROUP BY s.a),
         |l$i AS MATERIALIZED (SELECT vid FROM d$i WHERE deg >= 3)""".stripMargin
    }.mkString(",\n")
    s"""WITH ${coPairsCte("e")},
       |sym AS MATERIALIZED (SELECT a, b FROM e UNION ALL SELECT b AS a, a AS b FROM e),
       |l0 AS MATERIALIZED (SELECT DISTINCT a AS vid FROM sym),
       |$steps
       |SELECT CAST(vid AS BIGINT) AS vid, CAST(deg AS BIGINT) AS degree
       |FROM d$rounds WHERE deg >= 3""".stripMargin
  }

  // unrolled 4-step replay of the deterministic walk: same co-purchase
  // pairs CTE as kCoreSql, same md5-uniform rank choice as the Spark side
  private def walkCtesN(walkLen: Int): String = {
    val hops = (1 to walkLen).map { i =>
      s"""w$i AS MATERIALIZED (SELECT w.walk_id, a.dst AS node FROM w${i - 1} w
         |  JOIN degs dg ON dg.src = w.node
         |  JOIN adj a ON a.src = w.node
         |   AND a.rn = CAST(concat('0x', substr(md5('walk|'||CAST(w.walk_id AS VARCHAR)||'|$i'), 1, 12)) AS BIGINT) % dg.deg + 1)""".stripMargin
    }.mkString(",\n")
    val walks = (0 to walkLen).map(i =>
      s"SELECT CAST(walk_id AS BIGINT) AS walk_id, CAST($i AS BIGINT) AS step, CAST(node AS BIGINT) AS node FROM w$i")
      .mkString("\n  UNION ALL ")
    s"""${coPairsCte("e")},
       |sym AS MATERIALIZED (SELECT a AS src, b AS dst FROM e UNION ALL SELECT b AS src, a AS dst FROM e),
       |adj AS MATERIALIZED (SELECT src, dst, row_number() OVER (PARTITION BY src ORDER BY dst) AS rn FROM sym),
       |degs AS MATERIALIZED (SELECT src, max(rn) AS deg FROM adj GROUP BY src),
       |w0 AS MATERIALIZED (SELECT DISTINCT src AS walk_id, src AS node FROM sym),
       |$hops,
       |walks AS MATERIALIZED ($walks)""".stripMargin
  }
  private val walkCtes: String = walkCtesN(4)

  private val randomWalksSql: String =
    s"WITH $walkCtes\nSELECT walk_id, step, node FROM walks"

  // DeepWalk-production depth (walkLen 40, window 5) replayed with the
  // same hop chain unrolled 40 deep — the driver-gate twin of the
  // ScaleProbe len-40 arm
  private val walkPairsLongSql: String =
    s"""WITH ${walkCtesN(40)}
       |SELECT a.node AS center, b.node AS context, count(*) AS n_pairs
       |FROM walks a JOIN walks b ON a.walk_id = b.walk_id
       | AND a.step <> b.step AND abs(a.step - b.step) <= 5
       |GROUP BY 1, 2""".stripMargin

  // weighted variant: same replay with the cumulative-weight ladder (lo/hi
  // slots per neighbor) instead of the uniform rank choice
  private val weightedWalksSql: String = {
    def pick(i: Int) =
      s"CAST(concat('0x', substr(md5('wwalk|'||CAST(t.walk_id AS VARCHAR)||'|$i'), 1, 12)) AS BIGINT) % dg.tot"
    val hops = (1 to 4).map { i =>
      s"""v$i AS MATERIALIZED (SELECT t.walk_id, a.dst AS node FROM v${i - 1} t
         |  JOIN wdegs dg ON dg.src = t.node
         |  JOIN wadj a ON a.src = t.node
         |   AND ${pick(i)} >= a.lo AND ${pick(i)} < a.hi)""".stripMargin
    }.mkString(",\n")
    val out = (0 to 4).map(i =>
      s"SELECT CAST(walk_id AS BIGINT) AS walk_id, CAST($i AS BIGINT) AS step, CAST(node AS BIGINT) AS node FROM v$i")
      .mkString("\nUNION ALL ")
    s"""WITH ${coPairsCte("we", withW = true)},
       |wsym AS MATERIALIZED (SELECT a AS src, b AS dst, w FROM we UNION ALL SELECT b AS src, a AS dst, w FROM we),
       |wadj AS MATERIALIZED (SELECT src, dst,
       |  sum(w) OVER (PARTITION BY src ORDER BY dst) AS hi,
       |  sum(w) OVER (PARTITION BY src ORDER BY dst) - w AS lo FROM wsym),
       |wdegs AS MATERIALIZED (SELECT src, max(hi) AS tot FROM wadj GROUP BY src),
       |v0 AS MATERIALIZED (SELECT DISTINCT src AS walk_id, src AS node FROM wsym),
       |$hops
       |$out""".stripMargin
  }

  private val walkPairsSql: String =
    s"""WITH $walkCtes
       |SELECT a.node AS center, b.node AS context, count(*) AS n_pairs
       |FROM walks a JOIN walks b ON a.walk_id = b.walk_id
       | AND a.step <> b.step AND abs(a.step - b.step) <= 2
       |GROUP BY 1, 2""".stripMargin

  // SGNS negatives replay: same short-walk pair CTE, the unigram^0.75
  // noise ladder in integer milli-units (sqrt-only arithmetic — every op
  // IEEE correctly-rounded, so the floor quantization is bit-identical
  // across engines), md5 picks landed by interval containment
  private val walkNegativesSql: String =
    s"""WITH $walkCtes,
       |p AS (SELECT a.node AS center, b.node AS context, count(*) AS n_pairs
       |  FROM walks a JOIN walks b ON a.walk_id = b.walk_id
       |   AND a.step <> b.step AND abs(a.step - b.step) <= 2
       |  GROUP BY 1, 2),
       |xt AS (SELECT context, sum(n_pairs) AS nx FROM p GROUP BY 1),
       |wt AS (SELECT context, CAST(floor(sqrt(sqrt(CAST(nx AS DOUBLE)) * sqrt(CAST(nx AS DOUBLE)) * sqrt(CAST(nx AS DOUBLE))) * 1000.0 + 0.5) AS BIGINT) AS w FROM xt),
       |lad AS (SELECT context AS neg_node,
       |  sum(w) OVER (ORDER BY context) - w AS lo,
       |  sum(w) OVER (ORDER BY context) AS hi FROM wt),
       |tot AS (SELECT sum(w) AS t FROM wt),
       |ranks AS (SELECT unnest(generate_series(1, 3)) AS neg_rank),
       |picks AS (SELECT p.center, p.context, r.neg_rank,
       |    CAST(concat('0x', substr(md5('neg|'||CAST(p.center AS VARCHAR)||'|'||CAST(p.context AS VARCHAR)||'|'||CAST(r.neg_rank AS VARCHAR)), 1, 12)) AS BIGINT) % tot.t AS pick
       |  FROM p CROSS JOIN ranks r CROSS JOIN tot)
       |SELECT pk.center, pk.context, CAST(pk.neg_rank AS BIGINT) AS neg_rank, l.neg_node
       |FROM picks pk JOIN lad l ON pk.pick >= l.lo AND pk.pick < l.hi""".stripMargin

  // word2vec subsampling replay: keep an occurrence when its md5-48-bit
  // uniform lands under floor(sqrt((t·N)/(1e6·n))·2^48) — the same
  // pinned-association correctly-rounded chain the Spark side computes —
  // then compact steps per walk
  private val walkSubsampleSql: String =
    s"""WITH $walkCtes,
       |f AS (SELECT node, count(*) AS nf FROM walks GROUP BY 1),
       |tt AS (SELECT count(*) AS ntot FROM walks),
       |kept AS (SELECT w.walk_id, w.step, w.node FROM walks w
       |  JOIN f USING (node) CROSS JOIN tt
       |  WHERE CAST(concat('0x', substr(md5('sub|'||CAST(w.walk_id AS VARCHAR)||'|'||CAST(w.step AS VARCHAR)), 1, 12)) AS BIGINT)
       |    < floor(sqrt((1000.0 * ntot) / (1000000.0 * nf)) * 281474976710656.0))
       |SELECT walk_id,
       |  CAST(row_number() OVER (PARTITION BY walk_id ORDER BY step) - 1 AS BIGINT) AS step,
       |  node
       |FROM kept""".stripMargin

  // second-order node2vec replay: each unrolled hop builds the
  // degree-expanded candidate set, weights it by the (prev, dst) CASE
  // (return 250 / stay-local 1000 / venture-out 2000 — all integer), and
  // lands the walk's md5 uniform in the per-walk cumulative ladder
  private def node2vecSqlN(walkLen: Int): String = {
    def hop(i: Int): String = {
      val wCase =
        if (i == 1) "1000"
        else s"""CASE WHEN a.dst = t.prev THEN 250
                 |       WHEN m.src IS NOT NULL THEN 1000
                 |       ELSE 2000 END""".stripMargin
      val membJoin =
        if (i == 1) "" else "\n  LEFT JOIN sym m ON m.src = t.prev AND m.dst = a.dst"
      val pick = s"CAST(concat('0x', substr(md5('n2v|'||CAST(walk_id AS VARCHAR)||'|$i'), 1, 12)) AS BIGINT)"
      s"""c$i AS MATERIALIZED (
         |  SELECT t.walk_id, t.cur, a.dst, $wCase AS w
         |  FROM m${i - 1} t
         |  JOIN sym a ON a.src = t.cur$membJoin),
         |s$i AS MATERIALIZED (
         |  SELECT walk_id, cur, dst,
         |    sum(w) OVER (PARTITION BY walk_id ORDER BY dst) AS hi,
         |    sum(w) OVER (PARTITION BY walk_id ORDER BY dst) - w AS lo,
         |    sum(w) OVER (PARTITION BY walk_id) AS tot
         |  FROM c$i),
         |m$i AS MATERIALIZED (
         |  SELECT walk_id, cur AS prev, dst AS cur FROM s$i
         |  WHERE $pick % tot >= lo AND $pick % tot < hi)""".stripMargin
    }
    val hops = (1 to walkLen).map(hop).mkString(",\n")
    val out = (0 to walkLen).map(i =>
      s"SELECT CAST(walk_id AS BIGINT) AS walk_id, CAST($i AS BIGINT) AS step, CAST(cur AS BIGINT) AS node FROM m$i")
      .mkString("\nUNION ALL ")
    s"""WITH ${coPairsCte("e")},
       |sym AS MATERIALIZED (SELECT a AS src, b AS dst FROM e UNION ALL SELECT b AS src, a AS dst FROM e),
       |m0 AS MATERIALIZED (SELECT DISTINCT src AS walk_id, src AS prev, src AS cur FROM sym),
       |$hops
       |$out""".stripMargin
  }
  private val node2vecSql: String = node2vecSqlN(4)

  private val walkPmiSql: String =
    s"""WITH $walkCtes,
       |p AS (SELECT a.node AS center, b.node AS context, count(*) AS n_pairs
       |  FROM walks a JOIN walks b ON a.walk_id = b.walk_id
       |   AND a.step <> b.step AND abs(a.step - b.step) <= 2
       |  GROUP BY 1, 2),
       |tot AS (SELECT sum(n_pairs) AS n FROM p),
       |ct AS (SELECT center, sum(n_pairs) AS nc FROM p GROUP BY 1),
       |xt AS (SELECT context, sum(n_pairs) AS nx FROM p GROUP BY 1)
       |SELECT p.center, p.context, p.n_pairs,
       |  CAST(floor(ln(CAST(p.n_pairs AS DOUBLE) * tot.n / (ct.nc * xt.nx)) * 1000000.0 + 0.5) AS BIGINT) AS pmi_micro
       |FROM p JOIN ct USING (center) JOIN xt USING (context) CROSS JOIN tot""".stripMargin

  /** DuckDB fragment computing an edge's content-hash id (the exact bytes of
    * Hashing.edgeJson) from SQL expressions for the endpoint ids. */
  private def edgeIdSql(variant: String, srcExpr: String, dstExpr: String): String =
    s"""upper(sha256('{"properties":"'||upper(sha256('"$variant"'))||'","n1":"'||$srcExpr||'","n2":"'||$dstExpr||'"}'))"""

  private val custInNation = edgeIdSql("InNation", "'customer:'||c_custkey", "'nation:'||c_nationkey")
  private val suppInNation = edgeIdSql("InNation", "'supplier:'||s_suppkey", "'nation:'||s_nationkey")
  private val nationInRegion = edgeIdSql("InRegion", "'nation:'||n_nationkey", "'region:'||n_regionkey")
  private val custInSegment = edgeIdSql("InSegment", "'customer:'||c_custkey", "'segment:'||c_mktsegment")
  private val orderPlacedBy = edgeIdSql("PlacedBy", "'order:'||o_orderkey", "'customer:'||o_custkey")

  // shared by graphx_shortest_paths and graph_sssp_df (one body): hop
  // counts along the member->nation->region edge direction have a closed
  // form (regions 0, nations 1, customers/suppliers 2)
  private val shortestPathsSql =
    """SELECT 'region:'||r_regionkey AS id, CAST(r_regionkey AS BIGINT) AS landmark, CAST(0 AS BIGINT) AS dist FROM region
      |UNION ALL SELECT 'nation:'||n_nationkey, CAST(n_regionkey AS BIGINT), CAST(1 AS BIGINT) FROM nation
      |UNION ALL SELECT 'customer:'||c_custkey, CAST(n_regionkey AS BIGINT), CAST(2 AS BIGINT) FROM customer JOIN nation ON c_nationkey = n_nationkey
      |UNION ALL SELECT 'supplier:'||s_suppkey, CAST(n_regionkey AS BIGINT), CAST(2 AS BIGINT) FROM supplier JOIN nation ON s_nationkey = n_nationkey""".stripMargin

  // shared by graphx_pagerank and graph_pagerank_df (one body): on the
  // 3-level member->nation->region DAG the 10-iteration fixed point has a
  // closed form, normalized to sum |V|
  private val pageRankSql =
    """WITH mem AS (
      |  SELECT n_nationkey, n_regionkey,
      |    (SELECT count(*) FROM customer WHERE c_nationkey = n_nationkey) +
      |    (SELECT count(*) FROM supplier WHERE s_nationkey = n_nationkey) AS m
      |  FROM nation),
      |nr AS (SELECT n_nationkey, n_regionkey,
      |  CAST(0.15 AS DOUBLE) + CAST(0.85 AS DOUBLE) * CAST(0.15 AS DOUBLE) * m AS r FROM mem),
      |ranks AS (
      |  SELECT 'customer:'||c_custkey AS id, CAST(0.15 AS DOUBLE) AS r FROM customer
      |  UNION ALL SELECT 'supplier:'||s_suppkey, CAST(0.15 AS DOUBLE) FROM supplier
      |  UNION ALL SELECT 'nation:'||n_nationkey, r FROM nr
      |  UNION ALL SELECT 'region:'||r_regionkey,
      |    CAST(0.15 AS DOUBLE) + CAST(0.85 AS DOUBLE) *
      |      (SELECT sum(r) FROM nr WHERE n_regionkey = r_regionkey)
      |  FROM region),
      |tot AS (SELECT sum(r) AS s, count(*) AS n FROM ranks)
      |SELECT id, round(r * n / s, 5) AS rank FROM ranks, tot""".stripMargin

  // mirrors GraphAnalytics.labelPropagationDF(rounds=3) over the analytics
  // subgraph: symmetrized edges, per-round most-frequent-neighbor label
  // with (count desc, label asc) tie-break, isolated vertices keep theirs
  private val lpaCtes = {
    def round(r: Int) =
      s"""m$r AS (SELECT e.b AS vid, l.lbl, count(*) AS c
         |  FROM ed e JOIN l$r l ON l.vid = e.a GROUP BY 1, 2),
         |w$r AS (SELECT vid, lbl,
         |  row_number() OVER (PARTITION BY vid ORDER BY c DESC, lbl ASC) AS rn FROM m$r),
         |l${r + 1} AS (SELECT l.vid, coalesce(w.lbl, l.lbl) AS lbl
         |  FROM l$r l LEFT JOIN w$r w ON w.vid = l.vid AND w.rn = 1)""".stripMargin
    s"""nodes AS (
       |  SELECT CAST(r_regionkey AS BIGINT) AS vid, 'region:'||r_regionkey AS id FROM region
       |  UNION ALL SELECT n_nationkey + 100, 'nation:'||n_nationkey FROM nation
       |  UNION ALL SELECT s_suppkey + 10000, 'supplier:'||s_suppkey FROM supplier
       |  UNION ALL SELECT c_custkey + 1000000, 'customer:'||c_custkey FROM customer),
       |ed0 AS (
       |  SELECT c_custkey + 1000000 AS a, c_nationkey + 100 AS b FROM customer
       |  UNION ALL SELECT s_suppkey + 10000, s_nationkey + 100 FROM supplier
       |  UNION ALL SELECT n_nationkey + 100, CAST(n_regionkey AS BIGINT) FROM nation),
       |ed AS (SELECT DISTINCT a, b FROM
       |  (SELECT a, b FROM ed0 UNION ALL SELECT b, a FROM ed0)),
       |l0 AS (SELECT vid, vid AS lbl FROM nodes),
       |${round(0)},
       |${round(1)},
       |${round(2)}""".stripMargin
  }
  private val lpaSql =
    s"""WITH $lpaCtes
       |SELECT n.id, CAST(l3.lbl AS BIGINT) AS label
       |FROM l3 JOIN nodes n ON n.vid = l3.vid""".stripMargin

  // modularity over the SAME lpa partition and edge table: per community,
  // Q_c = (E_c*M - D_c^2)/M^2 in exact integers (HUGEINT here, decimal(38,0)
  // on the Spark side) with one double division per community
  private val modularitySql =
    s"""WITH $lpaCtes,
       |deg AS (SELECT a AS vid, count(*) AS dg FROM ed GROUP BY a),
       |lab AS (SELECT vid, lbl AS label FROM l3),
       |perc AS (SELECT label, count(*) AS n_nodes, sum(coalesce(dg, 0)) AS degree_sum
       |  FROM lab LEFT JOIN deg USING (vid) GROUP BY label),
       |intr AS (SELECT la.label, count(*) AS internal_directed
       |  FROM ed JOIN lab la ON la.vid = ed.a JOIN lab lb ON lb.vid = ed.b
       |  WHERE la.label = lb.label GROUP BY la.label),
       |mm AS (SELECT count(*) AS m FROM ed)
       |SELECT CAST(label AS BIGINT) AS label, CAST(n_nodes AS BIGINT) AS n_nodes,
       |  CAST(degree_sum AS BIGINT) AS degree_sum,
       |  CAST(coalesce(internal_directed, 0) AS BIGINT) AS internal_directed,
       |  CASE WHEN m = 0 THEN NULL
       |    ELSE round(CAST(coalesce(internal_directed, 0) * m - degree_sum * degree_sum AS DOUBLE)
       |      / CAST(m * m AS DOUBLE), 6)
       |  END AS q_contrib
       |FROM perc LEFT JOIN intr USING (label), mm""".stripMargin

  // degree assortativity of the thresholded co-purchase graph: Pearson r
  // between the endpoint degrees over the directed-symmetric edge list —
  // exact integer sums (HUGEINT / guarded Longs), one double division
  private val assortativitySql =
    s"""WITH ${coPairsCte("e")},
      |sym AS MATERIALIZED (SELECT a, b FROM e UNION ALL SELECT b AS a, a AS b FROM e),
      |deg AS (SELECT a AS v, count(*) AS dg FROM sym GROUP BY a),
      |sc AS (SELECT da.dg AS j, db.dg AS k FROM sym s
      |  JOIN deg da ON da.v = s.a JOIN deg db ON db.v = s.b),
      |ag AS (SELECT count(*) AS m, sum(j * k) AS sjk, sum(j) AS sj, sum(j * j) AS sj2 FROM sc)
      |SELECT CAST(m AS BIGINT) AS m_directed, CAST(sjk AS BIGINT) AS sum_jk,
      |  CAST(sj AS BIGINT) AS sum_j, CAST(sj2 AS BIGINT) AS sum_j2,
      |  CASE WHEN m * sj2 - sj * sj = 0 THEN NULL
      |    ELSE round(CAST(m * sjk - sj * sj AS DOUBLE) / CAST(m * sj2 - sj * sj AS DOUBLE), 6)
      |  END AS assortativity
      |FROM ag""".stripMargin

  /** Full multi-level Louvain oracle: `levels` × `rounds` parity-
    * restricted move rounds unrolled as MATERIALIZED CTEs with the
    * coarsening between levels and the composed mapping at the end.
    * Spark's zero-streak early exit pads as no-ops (a fixpoint state
    * replays itself — the kCore idempotence argument), and when no
    * fixpoint exists (the co-purchase graph two-cycles, see
    * GraphAnalytics.louvain) both engines compute the same fixed round
    * sequence, so the unroll count must equal the Spark entry's caps. */
  private def louvainSql(levels: Int, rounds: Int, weighted: Boolean = false): String =
    s"""${louvainCtes(levels, rounds, weighted)}
       |SELECT CAST(vid AS BIGINT) AS vid, CAST(label AS BIGINT) AS label FROM map$levels""".stripMargin

  /** The shared ep + e1 oracle prefix: co-purchase pair graph (with the
    * [[GraphAnalytics.coPurchasePairs]] fan-out cap mirrored — see
    * [[coPairs]]) symmetrized with per-direction weight `w1`. */
  private def epE1Ctes(w1: String): String =
    s"""WITH ${coPairsCte("ep", withW = true)},
      |e1 AS MATERIALIZED (
      |  SELECT a, b, $w1 AS w FROM ep
      |  UNION ALL SELECT b AS a, a AS b, $w1 FROM ep),
      |""".stripMargin

  /** One unrolled parity-restricted local-move round (level l, round r) —
    * the CTE replay of GraphAnalytics.louvainParityRound, shared by the
    * louvain and leiden oracles (identical comparator, tie-breaks and
    * parity schedule; they differ only in lab{l}_0 and the inter-level
    * wiring). */
  private def moveRoundCtes(l: Int, r: Int, pfx: String = ""): String = {
    val p = s"${pfx}lab${l}_${r - 1}"
    val parity = (r - 1) % 2
    s"""${pfx}dc${l}_$r AS MATERIALIZED (SELECT lx.label, sum(d.kv) AS dc
       |  FROM $p lx JOIN ${pfx}deg$l d ON d.vid = lx.vid GROUP BY lx.label),
       |${pfx}sc${l}_$r AS MATERIALIZED (
       |  SELECT cd.vid, cd.c,
       |    m * cd.kvc - d.kv * (dcc.dc - CASE WHEN cd.c = lx.label THEN d.kv ELSE 0 END) AS score,
       |    CASE WHEN cd.c = lx.label THEN 0 ELSE 1 END AS is_foreign
       |  FROM (
       |    SELECT vid, c, max(kvc) AS kvc FROM (
       |      SELECT s.a AS vid, lb.label AS c, sum(s.w) AS kvc
       |      FROM ${pfx}e$l s JOIN $p lb ON lb.vid = s.b
       |      WHERE s.a <> s.b AND s.a % 2 = $parity GROUP BY 1, 2
       |      UNION ALL SELECT vid, label AS c, 0 FROM $p WHERE vid % 2 = $parity) u
       |    GROUP BY vid, c) cd
       |  JOIN $p lx ON lx.vid = cd.vid
       |  JOIN ${pfx}deg$l d ON d.vid = cd.vid
       |  JOIN ${pfx}dc${l}_$r dcc ON dcc.label = cd.c
       |  CROSS JOIN ${pfx}m$l),
       |${pfx}lab${l}_$r AS MATERIALIZED (
       |  SELECT vid, c AS label FROM (
       |    SELECT vid, c, row_number() OVER (
       |      PARTITION BY vid ORDER BY score DESC, is_foreign ASC, c ASC) AS rn
       |    FROM ${pfx}sc${l}_$r) t WHERE rn = 1
       |  UNION ALL SELECT vid, label FROM $p WHERE vid % 2 <> $parity),
       |""".stripMargin
  }

  /** `pfx` namespaces every generated CTE so a second unroll can share
    * one WITH clause with the leiden oracle (the graph_leiden_quality
    * row runs both schedules in a single DuckDB query); the prefixed
    * form skips epE1Ctes and aliases its level-1 edges from the outer
    * query's shared unweighted `e1`. pfx="" output is byte-identical to
    * the pre-r16 form (the green louvain/lpa/quality oracles). */
  private def louvainCtes(levels: Int, rounds: Int, weighted: Boolean = false,
                          pfx: String = ""): String = {
    val sb = new StringBuilder
    val w1 = if (weighted) "CAST(w AS BIGINT)" else "CAST(1 AS BIGINT)"
    if (pfx.isEmpty) sb.append(epE1Ctes(w1))
    else {
      require(!weighted, "prefixed louvainCtes reuses the outer unweighted e1")
      sb.append(s"${pfx}e1 AS MATERIALIZED (SELECT a, b, w FROM e1),\n")
    }
    for (l <- 1 to levels) {
      sb.append(
        s"""${pfx}deg$l AS MATERIALIZED (SELECT a AS vid, sum(w) AS kv FROM ${pfx}e$l GROUP BY a),
           |${pfx}m$l AS MATERIALIZED (SELECT sum(w) AS m FROM ${pfx}e$l),
           |${pfx}lab${l}_0 AS MATERIALIZED (SELECT vid, vid AS label FROM ${pfx}deg$l),
           |""".stripMargin)
      for (r <- 1 to rounds) sb.append(moveRoundCtes(l, r, pfx))
      if (l == 1)
        sb.append(s"${pfx}map1 AS MATERIALIZED (SELECT vid, label FROM ${pfx}lab1_$rounds),\n")
      else
        sb.append(s"${pfx}map$l AS MATERIALIZED (SELECT mp.vid, lx.label FROM ${pfx}map${l - 1} mp " +
          s"JOIN ${pfx}lab${l}_$rounds lx ON lx.vid = mp.label),\n")
      if (l < levels)
        sb.append(
          s"""${pfx}e${l + 1} AS MATERIALIZED (
             |  SELECT la.label AS a, lb.label AS b, sum(s.w) AS w
             |  FROM ${pfx}e$l s JOIN ${pfx}lab${l}_$rounds la ON la.vid = s.a
             |  JOIN ${pfx}lab${l}_$rounds lb ON lb.vid = s.b GROUP BY 1, 2),
             |""".stripMargin)
    }
    sb.setLength(sb.length - 2)
    sb.toString
  }

  /** Leiden oracle: GraphAnalytics.leiden's exact schedule unrolled —
    * per level the same fixed move rounds as the louvain oracle, then a
    * RECURSIVE min-reachable cc over intra-community edges (the
    * refinement), fragment coarsening, and home-community initialization
    * of the next level; the composed fragment mapping meets the top
    * level's community labels at the end. Spark's two-zero-round early
    * exit pads as no-ops exactly as in the louvain oracle. */
  private def leidenSql(levels: Int, rounds: Int): String = {
    val (ctes, fin) = leidenCtesAndFinal(levels, rounds)
    s"$ctes\n$fin"
  }

  /** The leiden unroll split into (cte-list, final-labels SELECT) so the
    * quality oracle can extend the same WITH clause with a prefixed
    * louvain unroll and a modularity rollup. */
  private def leidenCtesAndFinal(levels: Int, rounds: Int): (String, String) = {
    val sb = new StringBuilder
    sb.append(epE1Ctes("CAST(1 AS BIGINT)").replaceFirst("WITH ", "WITH RECURSIVE "))
    for (l <- 1 to levels) {
      sb.append(
        s"""deg$l AS MATERIALIZED (SELECT a AS vid, sum(w) AS kv FROM e$l GROUP BY a),
           |m$l AS MATERIALIZED (SELECT sum(w) AS m FROM e$l),
           |""".stripMargin)
      sb.append(
        if (l == 1) s"lab${l}_0 AS MATERIALIZED (SELECT vid, vid AS label FROM deg$l),\n"
        else s"lab${l}_0 AS MATERIALIZED (SELECT vid, label FROM init$l),\n")
      for (r <- 1 to rounds) sb.append(moveRoundCtes(l, r))
      if (l < levels) {
        sb.append(
          s"""intra$l AS MATERIALIZED (SELECT s.a, s.b FROM e$l s
             |  JOIN lab${l}_$rounds la ON la.vid = s.a
             |  JOIN lab${l}_$rounds lb ON lb.vid = s.b
             |  WHERE la.label = lb.label AND s.a <> s.b),
             |reach$l AS (SELECT a, b FROM intra$l
             |  UNION SELECT r.a, u.b FROM reach$l r JOIN intra$l u ON r.b = u.a),
             |frag$l AS MATERIALIZED (SELECT d.vid, coalesce(f.cluster, d.vid) AS frag
             |  FROM deg$l d LEFT JOIN (SELECT a AS vid, least(a, min(b)) AS cluster
             |    FROM reach$l GROUP BY a) f ON f.vid = d.vid),
             |init${l + 1} AS MATERIALIZED (SELECT f.frag AS vid, min(lx.label) AS label
             |  FROM frag$l f JOIN lab${l}_$rounds lx ON lx.vid = f.vid GROUP BY f.frag),
             |""".stripMargin)
        sb.append(
          if (l == 1) s"fmap1 AS MATERIALIZED (SELECT vid, frag AS cur FROM frag1),\n"
          else s"fmap$l AS MATERIALIZED (SELECT m.vid, f.frag AS cur FROM fmap${l - 1} m " +
            s"JOIN frag$l f ON f.vid = m.cur),\n")
        sb.append(
          s"""e${l + 1} AS MATERIALIZED (
             |  SELECT fa.frag AS a, fb.frag AS b, sum(s.w) AS w
             |  FROM e$l s JOIN frag$l fa ON fa.vid = s.a
             |  JOIN frag$l fb ON fb.vid = s.b GROUP BY 1, 2),
             |""".stripMargin)
      }
    }
    sb.setLength(sb.length - 2)
    val fin =
      if (levels == 1)
        s"SELECT CAST(vid AS BIGINT) AS vid, CAST(label AS BIGINT) AS label FROM lab1_$rounds"
      else
        s"""SELECT CAST(m.vid AS BIGINT) AS vid, CAST(lx.label AS BIGINT) AS label
           |FROM fmap${levels - 1} m JOIN lab${levels}_$rounds lx ON lx.vid = m.cur""".stripMargin
    (sb.toString, fin)
  }

  /** graph_leiden_quality oracle: the full leiden unroll AND a
    * "lv"-prefixed louvain unroll share one WITH RECURSIVE clause (both
    * schedules read the same unweighted e1), then each partition folds to
    * ONE exact-integer modularity row — the louvainQualitySql rollup with
    * methods {leiden, louvain}. */
  private val leidenQualitySql: String = {
    val (lctes, lfin) = leidenCtesAndFinal(3, 8)
    s"""$lctes,
       |${louvainCtes(3, 8, pfx = "lv")},
       |ldn AS MATERIALIZED ($lfin),
       |meth AS MATERIALIZED (
       |  SELECT 'leiden' AS method, vid, label FROM ldn
       |  UNION ALL SELECT 'louvain' AS method, CAST(vid AS BIGINT) AS vid,
       |    CAST(label AS BIGINT) AS label FROM lvmap3),
       |qdeg AS MATERIALIZED (SELECT a AS vid, count(*) AS dg FROM e1 GROUP BY a),
       |qm AS (SELECT count(*) AS m FROM e1),
       |dsum AS (SELECT mt.method, mt.label, sum(coalesce(d.dg, 0)) AS ds
       |  FROM meth mt LEFT JOIN qdeg d ON d.vid = mt.vid GROUP BY 1, 2),
       |parts AS (SELECT method, count(*) AS nc,
       |  sum(CAST(ds AS HUGEINT) * CAST(ds AS HUGEINT)) AS dsq FROM dsum GROUP BY 1),
       |intr AS (SELECT m1.method, count(*) AS internal FROM e1 s
       |  JOIN meth m1 ON m1.vid = s.a
       |  JOIN meth m2 ON m2.vid = s.b AND m2.method = m1.method
       |  WHERE m1.label = m2.label GROUP BY 1)
       |SELECT p.method, CAST(p.nc AS BIGINT) AS n_communities,
       |  CAST(coalesce(i.internal, 0) AS BIGINT) AS internal_directed,
       |  round(CAST(coalesce(i.internal, 0) * CAST(qm.m AS HUGEINT) - p.dsq AS DOUBLE)
       |    / CAST(CAST(qm.m AS HUGEINT) * CAST(qm.m AS HUGEINT) AS DOUBLE), 6) AS q
       |FROM parts p LEFT JOIN intr i ON i.method = p.method CROSS JOIN qm""".stripMargin
  }

  /** Quality-row oracle: the full louvain unroll, a 3-round LPA replay
    * and the singleton partition, each folded to ONE exact-integer
    * modularity row (internal·M − ΣD_c² in HUGEINT, one double
    * division — the modularityTotal twin). */
  private val louvainQualitySql: String = {
    val lpa = (1 to 3).map { i =>
      s"""qlc$i AS MATERIALIZED (SELECT s.b AS vid, l.lbl, count(*) AS c
         |  FROM e1 s JOIN qlab${i - 1} l ON l.vid = s.a GROUP BY 1, 2),
         |qlab$i AS MATERIALIZED (SELECT l.vid, coalesce(w.lbl, l.lbl) AS lbl
         |  FROM qlab${i - 1} l LEFT JOIN (
         |    SELECT vid, lbl FROM (SELECT vid, lbl, row_number() OVER (
         |      PARTITION BY vid ORDER BY c DESC, lbl ASC) AS rn FROM qlc$i) t
         |    WHERE rn = 1) w ON w.vid = l.vid),
         |""".stripMargin
    }.mkString
    s"""${louvainCtes(3, 8)},
       |qdeg AS MATERIALIZED (SELECT a AS vid, count(*) AS dg FROM e1 GROUP BY a),
       |qm AS (SELECT count(*) AS m FROM e1),
       |qlab0 AS MATERIALIZED (SELECT vid, vid AS lbl FROM qdeg),
       |${lpa}meth AS MATERIALIZED (
       |  SELECT 'louvain' AS method, vid, label FROM map3
       |  UNION ALL SELECT 'lpa3' AS method, vid, lbl AS label FROM qlab3
       |  UNION ALL SELECT 'singletons' AS method, vid, vid AS label FROM qdeg),
       |dsum AS (SELECT mt.method, mt.label, sum(coalesce(d.dg, 0)) AS ds
       |  FROM meth mt LEFT JOIN qdeg d ON d.vid = mt.vid GROUP BY 1, 2),
       |parts AS (SELECT method, count(*) AS nc,
       |  sum(CAST(ds AS HUGEINT) * CAST(ds AS HUGEINT)) AS dsq FROM dsum GROUP BY 1),
       |intr AS (SELECT m1.method, count(*) AS internal FROM e1 s
       |  JOIN meth m1 ON m1.vid = s.a
       |  JOIN meth m2 ON m2.vid = s.b AND m2.method = m1.method
       |  WHERE m1.label = m2.label GROUP BY 1)
       |SELECT p.method, CAST(p.nc AS BIGINT) AS n_communities,
       |  CAST(coalesce(i.internal, 0) AS BIGINT) AS internal_directed,
       |  round(CAST(coalesce(i.internal, 0) * CAST(qm.m AS HUGEINT) - p.dsq AS DOUBLE)
       |    / CAST(CAST(qm.m AS HUGEINT) * CAST(qm.m AS HUGEINT) AS DOUBLE), 6) AS q
       |FROM parts p LEFT JOIN intr i ON i.method = p.method CROSS JOIN qm""".stripMargin
  }

  /** k-truss oracle: edge peeling unrolled to a fixed depth (idempotent
    * at the fixpoint — the kCore argument); each round enumerates
    * canonical a<b<c triangles over the previous round's edges, rolls up
    * per-edge support, keeps support >= k-2 = 1. */
  private val kTrussSql: String = {
    val rounds = 16
    val steps = (1 to rounds).map { i =>
      s"""t$i AS MATERIALIZED (SELECT x.a, x.b, y.b AS c
         |  FROM e${i - 1} x JOIN e${i - 1} y ON y.a = x.a AND x.b < y.b
         |  JOIN e${i - 1} z ON z.a = x.b AND z.b = y.b),
         |s$i AS MATERIALIZED (SELECT a, b, count(*) AS support FROM (
         |  SELECT a, b FROM t$i
         |  UNION ALL SELECT a AS a, c AS b FROM t$i
         |  UNION ALL SELECT b AS a, c AS b FROM t$i) u GROUP BY a, b),
         |e$i AS MATERIALIZED (SELECT a, b FROM s$i WHERE support >= 1)""".stripMargin
    }.mkString(",\n")
    s"""WITH ${coPairsCte("ep")},
       |e0 AS MATERIALIZED (SELECT a, b FROM ep),
       |$steps
       |SELECT CAST(a AS BIGINT) AS a, CAST(b AS BIGINT) AS b,
       |  CAST(support AS BIGINT) AS support
       |FROM s$rounds WHERE support >= 1""".stripMargin
  }

  val entries: Seq[Entry] = Seq(
    // stream→graph ingestion through the REAL streaming engine: events are
    // written as a multi-file source, read with maxFilesPerTrigger=2 (3
    // micro-batches), and folded into a persisted store via foreachBatch +
    // idempotent bulk mutations; the oracle recomputes the expected
    // vertex/edge counts relationally (memoized per (session, dir) so
    // repeated harness invocations don't accumulate temp stores)
    Entry("stream_graph_ingest", Memo.coldResult("stream_graph_ingest", Memo.Stream) { (s, d) =>
      val src = ingestFixture(s, d)
      // the graph STORE is the stream's sink — fresh per run, its writes
      // are part of the measured ingest (only the source is staged)
      val db = Memo.tempDir("graft-sgi-db")
      graft.streaming.EventStreams.streamIntoGraph(s, src, db, maxFilesPerTrigger = 2)
      val g = graft.model.GraphStore.load(s, db)
      g.vertices.agg(count(lit(1)).as("n_vertices"))
        .crossJoin(g.edges.agg(count(lit(1)).as("n_edges")))
    },
      """SELECT
        |  (SELECT count(DISTINCT user_id) + count(DISTINCT event_type) FROM events) AS n_vertices,
        |  (SELECT count(*) FROM (SELECT DISTINCT user_id, event_type FROM events) t) AS n_edges""".stripMargin),
    // §2.1 V.All
    Entry("zoe_v_all", (s, d) => compiler(s, d).run(VertexQuery.all).vertices,
      """SELECT 'region:'||r_regionkey AS id FROM region
        |UNION ALL SELECT 'nation:'||n_nationkey FROM nation
        |UNION ALL SELECT 'customer:'||c_custkey FROM customer
        |UNION ALL SELECT 'supplier:'||s_suppkey FROM supplier
        |UNION ALL SELECT 'part:'||p_partkey FROM part
        |UNION ALL SELECT 'order:'||o_orderkey FROM orders
        |UNION ALL SELECT DISTINCT 'segment:'||c_mktsegment FROM customer""".stripMargin),
    // §2.1 V.Specific (NOT existence-checked, reference parity)
    Entry("zoe_v_specific", (s, d) =>
      compiler(s, d).run(VertexQuery.fromIds(Seq("nation:1", "nation:7", "ghost:99"))).vertices,
      "SELECT 'nation:1' AS id UNION ALL SELECT 'nation:7' UNION ALL SELECT 'ghost:99'",
      // three literal ids, no scan: the time is session overhead
      Micro),
    // §2.1 V.Property via index equi-join
    Entry("zoe_v_property", (s, d) => compiler(s, d).run(nationV("NATION_7")).vertices,
      "SELECT 'nation:'||n_nationkey AS id FROM nation WHERE n_name = 'NATION_7'",
      // zoe_union looks up NATION_7 the same way
      SiblingOf("zoe_union")),
    // §2.3 ReferencingProperties + V.Property: SchemaType lattice lookup
    Entry("zoe_v_property_schema", (s, d) => compiler(s, d).run(vType("Customer")).vertices,
      "SELECT 'customer:'||c_custkey AS id FROM customer",
      // zoe_union's customersOf intersects this lookup
      SiblingOf("zoe_union")),
    // §2.3 P.FromTo as a top-level P query (custom orderable keys)
    Entry("zoe_p_fromto", (s, d) =>
      compiler(s, d).run(PropertyQuery.fromTo("psz_010", "psz_021")).properties,
      "SELECT printf('psz_%03d_%d', p_size, p_partkey) AS hash FROM part WHERE p_size BETWEEN 10 AND 20",
      // zoe_v_fromto hops on from this range scan
      SiblingOf("zoe_v_fromto")),
    // §2.3 FromTo range -> vertices
    Entry("zoe_v_fromto", (s, d) =>
      compiler(s, d).run(PropertyQuery.fromTo("psz_010", "psz_021").referencingVertices).vertices,
      "SELECT 'part:'||p_partkey AS id FROM part WHERE p_size BETWEEN 10 AND 20"),
    // §2.1 V.In of E.In: one hop back along InNation
    Entry("zoe_hop_in", (s, d) => compiler(s, d).run(membersOf("NATION_7")).vertices,
      """SELECT 'customer:'||c_custkey AS id FROM customer JOIN nation ON c_nationkey = n_nationkey WHERE n_name = 'NATION_7'
        |UNION ALL SELECT 'supplier:'||s_suppkey FROM supplier JOIN nation ON s_nationkey = n_nationkey WHERE n_name = 'NATION_7'""".stripMargin,
      // membersOf("NATION_7") is a branch of zoe_union
      SiblingOf("zoe_union")),
    // §2.1 V.Out of E.Out: forward hop to the region
    Entry("zoe_hop_out", (s, d) => compiler(s, d).run(
      nationV("NATION_3").outgoing.intersect(edgeProp("InRegion")).outgoing).vertices,
      "SELECT DISTINCT 'region:'||r_regionkey AS id FROM region JOIN nation ON n_regionkey = r_regionkey WHERE n_name = 'NATION_3'"),
    // two-hop traversal with type intersections
    Entry("zoe_two_hop", (s, d) => compiler(s, d).run(customersOfRegion("EUROPE")).vertices,
      """SELECT 'customer:'||c_custkey AS id FROM customer
        |JOIN nation ON c_nationkey = n_nationkey JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'EUROPE'""".stripMargin),
    // §2.1 set algebra
    Entry("zoe_union", (s, d) =>
      compiler(s, d).run(customersOf("NATION_7").union(customersOf("NATION_3"))).vertices,
      """SELECT 'customer:'||c_custkey AS id FROM customer JOIN nation ON c_nationkey = n_nationkey
        |WHERE n_name IN ('NATION_7','NATION_3')""".stripMargin),
    Entry("zoe_intersect", (s, d) =>
      compiler(s, d).run(customersOf("NATION_7").intersect(customersInSegment("BUILDING"))).vertices,
      """SELECT 'customer:'||c_custkey AS id FROM customer JOIN nation ON c_nationkey = n_nationkey
        |WHERE n_name = 'NATION_7' AND c_mktsegment = 'BUILDING'""".stripMargin),
    Entry("zoe_substract", (s, d) =>
      compiler(s, d).run(customersOf("NATION_7").substract(customersInSegment("BUILDING"))).vertices,
      """SELECT 'customer:'||c_custkey AS id FROM customer JOIN nation ON c_nationkey = n_nationkey
        |WHERE n_name = 'NATION_7' AND c_mktsegment <> 'BUILDING'""".stripMargin,
      // the same anti join is one arm of zoe_disjunctive_union
      SiblingOf("zoe_disjunctive_union")),
    // documented symmetric-difference semantics (SURVEY §7.4 decision 2)
    Entry("zoe_disjunctive_union", (s, d) =>
      compiler(s, d).run(customersOf("NATION_7")
        .disjunctiveUnion(customersInSegment("BUILDING"))).vertices,
      """SELECT 'customer:'||c_custkey AS id FROM customer JOIN nation ON c_nationkey = n_nationkey
        |WHERE (n_name = 'NATION_7') <> (c_mktsegment = 'BUILDING')""".stripMargin),
    // §2.1 V.Filter with the engine-native sql interpreter
    Entry("zoe_filter_sql", (s, d) => compiler(s, d).run(
      VertexQuery.all.filter(ZFilter("sql",
        "schema_type = 'Nation' AND value LIKE '%1%'"))).vertices,
      "SELECT 'nation:'||n_nationkey AS id FROM nation WHERE n_name LIKE '%1%'"),
    // §2.1 V.Filter with the engine-native registry interpreter
    Entry("zoe_filter_registry", (s, d) => {
      graft.exec.FilterRegistry.register("nations_only")(
        df => df.where(col("id").startsWith("nation:")))
      compiler(s, d).run(
        VertexQuery.all.filter(ZFilter("registry", "nations_only"))).vertices
    }, "SELECT 'nation:'||n_nationkey AS id FROM nation"),
    // §2.6 mutation lifecycle end-to-end: create props/nodes/edge, delete a
    // node (dangling edge parity), GC the orphaned property — the surviving
    // store state is fully content-addressed, so a literal-SQL oracle can
    // reproduce every id
    Entry("mutations_lifecycle", (s, d) => {
      import s.implicits._
      val p1 = PropValue.typed("Thing", Some("one"))
      val p2 = PropValue.typed("Thing", Some("two"))
      val link = PropValue("Link")
      var g = graft.store.BulkMutations.createPropertyTrees(GraphStore.empty(s), Seq(p1, p2, link))
      g = graft.store.BulkMutations.createNodes(g,
        Seq(("a", p1.hash), ("b", p2.hash)).toDF("id", "prop_hash"))
      g = graft.store.BulkMutations.createEdges(g,
        Seq(("a", "b", link.hash)).toDF("src", "dst", "prop_hash"))
      g = graft.store.BulkMutations.deleteNodes(g, Seq("b").toDF("id"))
      g = graft.store.BulkMutations.gcOrphanProps(g)
      g.vertices.select(lit("vertex").as("kind"), col("id"))
        .unionByName(g.edges.select(lit("edge").as("kind"), col("edge_id").as("id")))
        .unionByName(g.props.select(lit("prop").as("kind"), col("hash").as("id")))
    },
      """SELECT 'vertex' AS kind, 'a' AS id
        |UNION ALL SELECT 'edge', upper(sha256('{"properties":"'||upper(sha256('"Link"'))||'","n1":"a","n2":"b"}'))
        |UNION ALL SELECT 'prop', upper(sha256('{"Thing":"one"}'))
        |UNION ALL SELECT 'prop', upper(sha256('{"SchemaType":"Thing"}'))
        |UNION ALL SELECT 'prop', upper(sha256('"Link"'))""".stripMargin,
      Micro),
    // §2.6 driver-side batch lifecycle: update_node repoints + GCs the old
    // property, delete_edge GCs the edge property — reference-exact
    // semantics (GraphBatch), surviving state fully content-addressed
    Entry("mutations_update_delete", (s, d) => {
      val b = new graft.store.GraphBatch
      val a = b.createNode("a", PropValue.typed("Thing", Some("one")))
      val bb = b.createNode("b", PropValue.typed("Thing", Some("two")))
      val e1 = b.createEdge(a, bb, PropValue("Link"))
      b.updateNode(a, PropValue.typed("Thing", Some("three"))) // GCs {"Thing":"one"}
      b.deleteEdge(e1)                                         // GCs "Link"
      val g = b.toStore(s)
      g.vertices.select(lit("vertex").as("kind"), col("id"))
        .unionByName(g.edges.select(lit("edge").as("kind"), col("edge_id").as("id")))
        .unionByName(g.props.select(lit("prop").as("kind"), col("hash").as("id")))
    },
      """SELECT 'vertex' AS kind, 'a' AS id
        |UNION ALL SELECT 'vertex', 'b'
        |UNION ALL SELECT 'prop', upper(sha256('{"Thing":"three"}'))
        |UNION ALL SELECT 'prop', upper(sha256('{"Thing":"two"}'))
        |UNION ALL SELECT 'prop', upper(sha256('{"SchemaType":"Thing"}'))""".stripMargin,
      Micro),
    // §2.6 Change/ChangeSet (the reference's dead VCS-sync surface made
    // real): anti-join diff of two stores — deleted segments + InSegment
    // edges, one created node, one repointed node
    Entry("changeset_diff", (s, d) => {
      import s.implicits._
      val from = graph(s, d)
      val to = from.copy(
        vertices = from.vertices
          .where(!col("id").startsWith("segment:"))
          .withColumn("prop_hash", when(col("id") === "nation:7",
            lit(TpchGraph.unitHash("InNation"))).otherwise(col("prop_hash")))
          .unionByName(Seq(("extra:1", TpchGraph.unitHash("Link"))).toDF("id", "prop_hash")),
        edges = from.edges.where(col("prop_hash") =!= TpchGraph.unitHash("InSegment")))
      val c = graft.store.GraphChange.diff(from, to)
      c.createdNodes.select(lit("created_node").as("kind"), col("id"))
        .unionByName(c.modifiedNodes.select(lit("modified_node").as("kind"), col("id")))
        .unionByName(c.deletedNodes.select(lit("deleted_node").as("kind"), col("id")))
        .unionByName(c.deletedEdges.select(lit("deleted_edge").as("kind"), col("edge_id").as("id")))
    },
      s"""SELECT 'created_node' AS kind, 'extra:1' AS id
         |UNION ALL SELECT 'modified_node', 'nation:7'
         |UNION ALL SELECT 'deleted_node', 'segment:'||c_mktsegment FROM (SELECT DISTINCT c_mktsegment FROM customer) t
         |UNION ALL SELECT 'deleted_edge', $custInSegment FROM customer""".stripMargin),
    // §2.7 GraphML import with a deterministic node-key mapper: the imported
    // store's ids/hashes are all reproducible from the fixture text
    Entry("graphml_import", (s, d) => {
      val xml =
        """<graph>
          |  <node id="1"><Label>Node 1</Label></node>
          |  <node id="2"><Label>Node 2</Label></node>
          |  <edge source="1" target="2"><Label>Edge from Node 1 to Node 2</Label></edge>
          |</graph>""".stripMargin
      val res = graft.io.GraphML.importString(xml,
        nodeKeyMapper = (id, seen) => seen.getOrElseUpdate(id, s"n$id"))
      val g = res.batch.toStore(s)
      g.vertices.select(lit("vertex").as("kind"), col("id"))
        .unionByName(g.edges.select(lit("edge").as("kind"), col("edge_id").as("id")))
        .unionByName(g.props.select(lit("prop").as("kind"), col("hash").as("id")))
    },
      """SELECT 'vertex' AS kind, 'n1' AS id
        |UNION ALL SELECT 'vertex', 'n2'
        |UNION ALL SELECT 'edge', upper(sha256('{"properties":"'||upper(sha256('{"Label":"Edge from Node 1 to Node 2"}'))||'","n1":"n1","n2":"n2"}'))
        |UNION ALL SELECT 'prop', upper(sha256('{"Label":"Node 1"}'))
        |UNION ALL SELECT 'prop', upper(sha256('{"Label":"Node 2"}'))
        |UNION ALL SELECT 'prop', upper(sha256('{"Label":"Edge from Node 1 to Node 2"}'))
        |UNION ALL SELECT 'prop', upper(sha256('{"SchemaType":"Label"}'))""".stripMargin,
      Micro),
    // §2.7 GraphML EXPORT round-trip (the reference's own import test
    // shape, test_import_graphml.rs:8-41, driven backwards): a typed
    // graph is exported with toGraphML, re-imported with an id-preserving
    // mapper, and the re-imported store is queried THROUGH THE ENGINE
    // (V.All / E.All); any asymmetry vs the original store surfaces as
    // missing_*/extra_* rows the oracle does not have
    Entry("graphml_export_roundtrip", (s, d) => {
      val b = new graft.store.GraphBatch
      b.createNode("a", PropValue.typed("City", Some("Berlin")))
      b.createNode("b", PropValue.typed("City", Some("Paris")))
      b.createNode("c", PropValue.typed("Person", Some("Ada")))
      b.createEdge("a", "b", PropValue.typed("Road", Some("A2")))
      b.createEdge("c", "a", PropValue.typed("Lives", Some("home")))
      val g1 = b.toStore(s)
      val xml = graft.io.GraphExport.toGraphML(g1)
      val g2 = graft.io.GraphML.importString(xml,
        nodeKeyMapper = (id, seen) => seen.getOrElseUpdate(id, id)).batch.toStore(s)
      val zc = new ZoeCompiler(g2)
      val v2 = zc.run(VertexQuery.all).vertices.select(col("id"))
      val e2 = zc.run(EdgeQuery.all).edges.select(col("id"))
      val v1 = g1.vertices.select(col("id"))
      val e1 = g1.edges.select(col("edge_id").as("id"))
      v2.select(lit("vertex").as("kind"), col("id"))
        .unionByName(e2.select(lit("edge").as("kind"), col("id")))
        .unionByName(g2.props.select(lit("prop").as("kind"), col("hash").as("id")))
        .unionByName(v1.except(v2).select(lit("missing_vertex").as("kind"), col("id")))
        .unionByName(v2.except(v1).select(lit("extra_vertex").as("kind"), col("id")))
        .unionByName(e1.except(e2).select(lit("missing_edge").as("kind"), col("id")))
        .unionByName(e2.except(e1).select(lit("extra_edge").as("kind"), col("id")))
    },
      // export → reimport is EXACT for typed graphs: the oracle lists the
      // original store's full content (ids + content hashes) and NO
      // missing_*/extra_* rows — any asymmetry the engine reports after the
      // round trip breaks the row/hash match
      """SELECT 'vertex' AS kind, 'a' AS id
        |UNION ALL SELECT 'vertex', 'b'
        |UNION ALL SELECT 'vertex', 'c'
        |UNION ALL SELECT 'edge', upper(sha256('{"properties":"'||upper(sha256('{"Road":"A2"}'))||'","n1":"a","n2":"b"}'))
        |UNION ALL SELECT 'edge', upper(sha256('{"properties":"'||upper(sha256('{"Lives":"home"}'))||'","n1":"c","n2":"a"}'))
        |UNION ALL SELECT 'prop', upper(sha256('{"City":"Berlin"}'))
        |UNION ALL SELECT 'prop', upper(sha256('{"City":"Paris"}'))
        |UNION ALL SELECT 'prop', upper(sha256('{"Person":"Ada"}'))
        |UNION ALL SELECT 'prop', upper(sha256('{"Road":"A2"}'))
        |UNION ALL SELECT 'prop', upper(sha256('{"Lives":"home"}'))
        |UNION ALL SELECT 'prop', upper(sha256('{"SchemaType":"City"}'))
        |UNION ALL SELECT 'prop', upper(sha256('{"SchemaType":"Person"}'))
        |UNION ALL SELECT 'prop', upper(sha256('{"SchemaType":"Road"}'))
        |UNION ALL SELECT 'prop', upper(sha256('{"SchemaType":"Lives"}'))""".stripMargin,
      Micro),
    // §1.3 SchemaConstraint enforcement (declared-never-enforced in the
    // reference; enforced here): one satisfied Required, one failing
    // Required, one failing Prohibited with a data-dependent match count
    Entry("schema_validate", (s, d) => {
      import s.implicits._
      import graft.exec.{SchemaConstraint, SchemaValidator}
      val violations = SchemaValidator.validate(graph(s, d), Seq(
        SchemaConstraint.Required(BasicQuery.V(nationV("NATION_7"))),
        SchemaConstraint.Required(BasicQuery.V(nationV("NO_SUCH_NATION"))),
        SchemaConstraint.Prohibited(BasicQuery.V(customersInSegment("BUILDING")))))
      violations.map(v => (v.kind, v.matches)).toDF("kind", "matches")
    },
      """SELECT 'required' AS kind, CAST(0 AS BIGINT) AS matches
        |UNION ALL SELECT 'prohibited', (SELECT count(*) FROM customer WHERE c_mktsegment = 'BUILDING')""".stripMargin,
      // its three lookups are branches of zoe_disjunctive_union, up to the nation name
      SiblingOf("zoe_disjunctive_union")),
    // §2.1 V.Store: side-effect snapshot union'd into the result
    Entry("zoe_store_hop", (s, d) => compiler(s, d).run(
      customersOf("NATION_7").store.outgoing.intersect(edgeProp("InNation")).outgoing).vertices,
      """SELECT 'nation:'||n_nationkey AS id FROM nation WHERE n_name = 'NATION_7'
        |UNION ALL SELECT 'customer:'||c_custkey FROM customer JOIN nation ON c_nationkey = n_nationkey WHERE n_name = 'NATION_7'""".stripMargin),
    // §2.4 path accumulation + extract_path_properties
    Entry("zoe_paths_europe", (s, d) => {
      val zc = compiler(s, d)
      zc.extractPathProperties(zc.run(customersOfRegion("EUROPE")))
        .select(col("end").as("path_end"), concat_ws("->", col("props")).as("path_str"))
    },
      """SELECT 'customer:'||c_custkey AS path_end,
        |'{"Region":"EUROPE"}->"InRegion"->{"Nation":"'||n_name||'"}->"InNation"->{"Customer":"'||c_name||'"}' AS path_str
        |FROM customer JOIN nation ON c_nationkey = n_nationkey JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'EUROPE'""".stripMargin),
    // §2.2 E.All: every edge family's content-hash id
    Entry("zoe_e_all", (s, d) => compiler(s, d).run(EdgeQuery.all).edges,
      s"""SELECT $custInNation AS id FROM customer
         |UNION ALL SELECT $suppInNation FROM supplier
         |UNION ALL SELECT $nationInRegion FROM nation
         |UNION ALL SELECT $custInSegment FROM customer
         |UNION ALL SELECT $orderPlacedBy FROM orders""".stripMargin),
    // §2.2 E.Specific: NOT existence-checked (reference parity,
    // kv_graph_store.rs:229-233) — the ghost id must survive
    Entry("zoe_e_specific", (s, d) => {
      val rows = t(s, d, "nation").where(col("n_nationkey").isin(1, 7))
        .select(col("n_nationkey").cast("string"), col("n_regionkey").cast("string"))
        .collect()
      val ids = rows.toSeq.map(r => Hashing.edgeId(TpchGraph.unitHash("InRegion"),
        s"nation:${r.getString(0)}", s"region:${r.getString(1)}")) :+ "GHOST_EDGE"
      compiler(s, d).run(EdgeQuery.fromIds(ids)).edges
    },
      s"""SELECT $nationInRegion AS id FROM nation WHERE n_nationkey IN (1, 7)
         |UNION ALL SELECT 'GHOST_EDGE'""".stripMargin),
    // §2.2 E.Union
    Entry("zoe_e_union", (s, d) =>
      compiler(s, d).run(edgeProp("InRegion").union(edgeProp("InSegment"))).edges,
      s"""SELECT $nationInRegion AS id FROM nation
         |UNION ALL SELECT $custInSegment FROM customer""".stripMargin,
      // zoe_disjunctive_union unions the same edge-property lookups (InNation for InRegion)
      SiblingOf("zoe_disjunctive_union")),
    // §2.2 E.Substract: InNation edges not pointing at NATION_7
    Entry("zoe_e_substract", (s, d) =>
      compiler(s, d).run(edgeProp("InNation").substract(nationV("NATION_7").ingoing)).edges,
      s"""SELECT $custInNation AS id FROM customer WHERE c_nationkey <> 7
         |UNION ALL SELECT $suppInNation FROM supplier WHERE s_nationkey <> 7""".stripMargin),
    // §2.2 E.DisjunctiveUnion (documented symmetric-difference semantics):
    // edges into NATION_7 vs InNation edges of BUILDING-segment customers
    Entry("zoe_e_disjunctive_union", (s, d) =>
      compiler(s, d).run(nationV("NATION_7").ingoing.disjunctiveUnion(
        customersInSegment("BUILDING").outgoing.intersect(edgeProp("InNation")))).edges,
      s"""SELECT $custInNation AS id FROM customer WHERE (c_nationkey = 7) <> (c_mktsegment = 'BUILDING')
         |UNION ALL SELECT $suppInNation FROM supplier WHERE s_nationkey = 7""".stripMargin),
    // §2.2 E.Filter with the sql interpreter over the edge's property
    Entry("zoe_e_filter_sql", (s, d) => compiler(s, d).run(
      EdgeQuery.all.filter(ZFilter("sql", "schema_type = 'InRegion'"))).edges,
      s"SELECT $nationInRegion AS id FROM nation"),
    // §2.2 E.Store: snapshot InSegment edges, traverse on to InNation edges;
    // the result unions the stored snapshot back in
    Entry("zoe_e_store", (s, d) => compiler(s, d).run(
      customersOf("NATION_7").outgoing.intersect(edgeProp("InSegment")).store
        .ingoing.outgoing.intersect(edgeProp("InNation"))).edges,
      s"""SELECT $custInNation AS id FROM customer WHERE c_nationkey = 7
         |UNION ALL SELECT $custInSegment FROM customer WHERE c_nationkey = 7""".stripMargin),
    // §2.2 E.Property
    Entry("zoe_e_property", (s, d) =>
      compiler(s, d).traceE(edgeProp("InSegment")).select("src", "dst"),
      "SELECT 'customer:'||c_custkey AS src, 'segment:'||c_mktsegment AS dst FROM customer",
      // customersInSegment in zoe_disjunctive_union compiles the same edge lookup
      SiblingOf("zoe_disjunctive_union")),
    // §2.2 E.Out + E.Intersect
    Entry("zoe_e_out_intersect", (s, d) =>
      compiler(s, d).traceE(customersOf("NATION_7").outgoing.intersect(edgeProp("InSegment")))
        .select("src", "dst"),
      """SELECT 'customer:'||c_custkey AS src, 'segment:'||c_mktsegment AS dst
        |FROM customer JOIN nation ON c_nationkey = n_nationkey WHERE n_name = 'NATION_7'""".stripMargin),
    // content-addressed edge identity, cross-checked against DuckDB sha256
    Entry("zoe_e_ids", (s, d) => compiler(s, d).run(edgeProp("InRegion")).edges,
      """SELECT upper(sha256('{"properties":"'||upper(sha256('"InRegion"'))||'","n1":"nation:'||n_nationkey||'","n2":"region:'||n_regionkey||'"}')) AS id
        |FROM nation""".stripMargin,
      // zoe_two_hop intersects the same InRegion edge lookup
      SiblingOf("zoe_two_hop")),
    // §2.3 ReferencingProperties (parents in the nested() DAG)
    Entry("zoe_p_referencing", (s, d) => compiler(s, d).run(
      Zoe.start(PropValue.schemaType("Segment")).referencingProperties).properties,
      """SELECT DISTINCT upper(sha256('{"Segment":"'||c_mktsegment||'"}')) AS hash FROM customer""",
      // zoe_union's vType lookup starts with this step (Customer for Segment)
      SiblingOf("zoe_union")),
    // §2.3 ReferencedProperties (children; unimplemented in the reference)
    Entry("zoe_p_referenced", (s, d) => {
      val name = t(s, d, "customer").where(col("c_custkey") === 1)
        .select("c_name").head().getString(0)
      compiler(s, d).run(
        Zoe.start(PropValue.typed("Customer", Some(name))).referencedProperties).properties
    },
      "SELECT DISTINCT upper(sha256('{\"SchemaType\":\"Customer\"}')) AS hash FROM customer WHERE c_custkey = 1"),
    // §2.5 WeightedGraph surface: JSON-path weight extraction with default
    // for non-numeric properties, summed over parallel edges
    Entry("graph_weighted_edges", (s, d) => {
      val b = new graft.store.GraphBatch
      b.createNode("a", PropValue("Node", Some("a")))
      b.createNode("b", PropValue("Node", Some("b")))
      b.createNode("c", PropValue("Node", Some("c")))
      b.createEdge("a", "b", PropValue("Weight", Some("2.5")))
      b.createEdge("b", "c", PropValue("Link"))
      GraphAnalytics.weightedEdges(b.toStore(s)).select("src", "dst", "weight")
    },
      """SELECT 'a' AS src, 'b' AS dst, CAST(2.5 AS DOUBLE) AS weight
        |UNION ALL SELECT 'b', 'c', CAST(1.0 AS DOUBLE)""".stripMargin,
      Micro),
    // §2.5 Graph trait surface: degree
    Entry("graph_degree", (s, d) =>
      GraphAnalytics.degrees(graph(s, d)).where(col("id").startsWith("nation:")),
      """SELECT 'nation:'||n_nationkey AS id,
        |(SELECT count(*) FROM customer WHERE c_nationkey = n_nationkey) + (SELECT count(*) FROM supplier WHERE s_nationkey = n_nationkey) AS in_deg,
        |CAST(1 AS BIGINT) AS out_deg
        |FROM nation""".stripMargin),
    // §2.5 order/size
    Entry("graph_order_size", (s, d) => {
      val g = graph(s, d)
      g.vertices.agg(count(lit(1)).as("graph_order"))
        .crossJoin(g.edges.agg(count(lit(1)).as("graph_size")))
    },
      """SELECT
        |((SELECT count(*) FROM region)+(SELECT count(*) FROM nation)+(SELECT count(*) FROM customer)
        | +(SELECT count(*) FROM supplier)+(SELECT count(*) FROM part)+(SELECT count(*) FROM orders)
        | +(SELECT count(DISTINCT c_mktsegment) FROM customer)) AS graph_order,
        |(2*(SELECT count(*) FROM customer)+(SELECT count(*) FROM supplier)
        | +(SELECT count(*) FROM nation)+(SELECT count(*) FROM orders)) AS graph_size""".stripMargin),
    // §2.5 neighbors
    Entry("graph_neighbors", (s, d) => GraphAnalytics.neighbors(graph(s, d), "nation:7"),
      """SELECT 'customer:'||c_custkey AS id FROM customer WHERE c_nationkey = 7
        |UNION ALL SELECT 'supplier:'||s_suppkey FROM supplier WHERE s_nationkey = 7
        |UNION ALL SELECT 'region:'||n_regionkey FROM nation WHERE n_nationkey = 7""".stripMargin),
    // connected components with deterministic long mapping
    Entry("graphx_cc", (s, d) =>
      GraphAnalytics.connectedComponents(analyticsSubgraph(graph(s, d)), analyticsToLong),
      """SELECT 'region:'||r_regionkey AS id, CAST(r_regionkey AS BIGINT) AS component FROM region
        |UNION ALL SELECT 'nation:'||n_nationkey, CAST(n_regionkey AS BIGINT) FROM nation
        |UNION ALL SELECT 'supplier:'||s_suppkey, CAST(n_regionkey AS BIGINT) FROM supplier JOIN nation ON s_nationkey = n_nationkey
        |UNION ALL SELECT 'customer:'||c_custkey, CAST(n_regionkey AS BIGINT) FROM customer JOIN nation ON c_nationkey = n_nationkey""".stripMargin),
    // static PageRank (both names, one body). On the 3-level
    // member->nation->region DAG the 10-iteration fixed point has a closed
    // form (members 0.15, nations 0.15+0.85*0.15*m, regions
    // 0.15+0.85*sum(nation ranks)), then normalized to sum to |V| — all
    // SQL-expressible, so this is oracle-checked despite being an
    // iterative algorithm. Both names stay benched so the per-entry
    // record keeps its graphx_* names; likewise for the shortest-path and
    // triangle pairs.
    Entry("graphx_pagerank", analyticsPageRank, pageRankSql),
    Entry("graph_pagerank_df", analyticsPageRank, pageRankSql),
    // personalized PageRank: seed-conditioned relevance from every 10th
    // customer; mass stays seed-local (no |V| normalization), closed-form
    // oracle on the member->nation->region DAG. Emitted as integer
    // micro-units (rank · 1e6, exact in this DAG because every out-degree
    // is 1) — the repo-wide convention for quantized scores, after the
    // round-10 double emit flipped round(rank, 5) between 16- and 32-core
    // runs of the same build (partition-order float summation).
    Entry("graph_ppr_df", (s, d) => {
      val g = analyticsSubgraph(graph(s, d))
      val seeds = g.vertices
        .where(split(col("id"), ":").getItem(0) === "customer" &&
          split(col("id"), ":").getItem(1).cast("long") % 10 === 0)
        .select(analyticsToLong(col("id")).as("vid"))
      GraphAnalytics.personalizedPageRankDF(g, analyticsToLong, seeds, numIter = 10)
        .select(col("id"),
          round(col("rank") * lit(1000000), 0).cast("long").as("rank_u6"))
    },
      // PPR closed form on the member->nation->region DAG, in exact integer
      // micro-units (every out-degree is 1, so all mass values are exact
      // multiples of 1e-6): a seed member holds 0.15 = 150000u; a nation
      // collects 0.85 * 0.15 * |its seed members| = 127500u each; a region
      // collects 0.85 * that = 108375u per seed member under it. Integer
      // arithmetic on BOTH sides — no float summation order to diverge.
      """WITH seedc AS (SELECT c_custkey, c_nationkey FROM customer WHERE c_custkey % 10 = 0),
        |ranks AS (
        |  SELECT 'customer:'||c_custkey AS id,
        |    CASE WHEN c_custkey % 10 = 0 THEN 150000 ELSE 0 END AS u
        |  FROM customer
        |  UNION ALL SELECT 'supplier:'||s_suppkey, 0 FROM supplier
        |  UNION ALL SELECT 'nation:'||n_nationkey,
        |    127500 * (SELECT count(*) FROM seedc WHERE c_nationkey = n_nationkey)
        |  FROM nation
        |  UNION ALL SELECT 'region:'||r_regionkey,
        |    108375 * (SELECT count(*) FROM seedc JOIN nation ON c_nationkey = n_nationkey
        |              WHERE n_regionkey = r_regionkey)
        |  FROM region)
        |SELECT id, CAST(u AS BIGINT) AS rank_u6 FROM ranks""".stripMargin),
    // DataFrame-native synchronous label propagation (community
    // detection): 3 rounds, most-frequent-neighbor-label with smallest-
    // label tie-break — integer-exact, oracle unrolls the rounds
    Entry("graph_lpa_df", (s, d) =>
      GraphAnalytics.labelPropagationDF(analyticsSubgraph(graph(s, d)),
        analyticsToLong, rounds = 3, symEdges = Some(symEdges(s, d))), lpaSql),
    // shortest paths to the region landmarks (both names, one body):
    // iterated min-propagation with the fused count+sum convergence probe
    Entry("graphx_shortest_paths", analyticsShortestPaths, shortestPathsSql),
    Entry("graph_sssp_df", analyticsShortestPaths, shortestPathsSql),
    // k-core of the THRESHOLDED co-purchase graph (parts sharing >= 2
    // orders): iterative peeling to the dense backbone. At sf0.01 the
    // 3-core keeps ~935 of 1880 parts after 11 peel rounds — real
    // multi-round dynamics, not a one-shot degree filter
    Entry("graph_kcore_df", (s, d) => {
      val pairs = coPairs(s, d)
        .select("a", "b")
      GraphAnalytics.kCore(pairs, k = 3)
    }, kCoreSql),
    // HITS hubs/authorities (2 exact-integer iterations, unnormalized
    // fixed-count form) over the directed analytics subgraph
    Entry("graph_hits", (s, d) =>
      GraphAnalytics.hitsDF(analyticsSubgraph(graph(s, d)), analyticsToLong,
        numIter = 2),
      // unrolled 2-iteration integer HITS over the same member→nation→region
      // edges the pagerank oracle walks
      """WITH e AS (
        |  SELECT 'customer:'||c_custkey AS src, 'nation:'||c_nationkey AS dst FROM customer
        |  UNION ALL SELECT 'supplier:'||s_suppkey, 'nation:'||s_nationkey FROM supplier
        |  UNION ALL SELECT 'nation:'||n_nationkey, 'region:'||n_regionkey FROM nation),
        |h1 AS (SELECT src, count(*) AS h FROM e GROUP BY src),
        |a1 AS (SELECT dst, sum(h1.h) AS a FROM e JOIN h1 ON h1.src = e.src GROUP BY dst),
        |h2 AS (SELECT e.src, sum(a1.a) AS h FROM e JOIN a1 ON a1.dst = e.dst GROUP BY e.src),
        |a2 AS (SELECT e.dst, sum(h2.h) AS a FROM e JOIN h2 ON h2.src = e.src GROUP BY e.dst),
        |ids AS (SELECT 'region:'||r_regionkey AS id FROM region
        |  UNION ALL SELECT 'nation:'||n_nationkey FROM nation
        |  UNION ALL SELECT 'supplier:'||s_suppkey FROM supplier
        |  UNION ALL SELECT 'customer:'||c_custkey FROM customer)
        |SELECT ids.id, CAST(coalesce(h2.h, 0) AS BIGINT) AS hub,
        |  CAST(coalesce(a2.a, 0) AS BIGINT) AS auth
        |FROM ids LEFT JOIN h2 ON h2.src = ids.id LEFT JOIN a2 ON a2.dst = ids.id""".stripMargin),
    // Adamic–Adar link prediction over the same thresholded co-purchase
    // graph: top-50 NON-adjacent pairs by Σ 1/ln(deg) over common
    // neighbors, integer micro-units per vertex cell
    Entry("graph_adamic_adar", (s, d) => {
      val pairs = coPairs(s, d)
        .select("a", "b")
      GraphAnalytics.adamicAdar(pairs, topK = 50)
    },
      s"""WITH ${coPairsCte("e")},
        |sym AS MATERIALIZED (SELECT a, b FROM e UNION ALL SELECT b AS a, a AS b FROM e),
        |zw AS (SELECT a AS z, CAST(floor(1000000.0 / ln(count(*)) + 0.5) AS BIGINT) AS w
        |  FROM sym GROUP BY a HAVING count(*) BETWEEN 2 AND 1000),
        |adj AS MATERIALIZED (SELECT s.a AS z, s.b AS n, zw.w FROM sym s JOIN zw ON zw.z = s.a),
        |sc AS (SELECT x.n AS u, y.n AS v, count(*) AS n_common, sum(x.w) AS aa
        |  FROM adj x JOIN adj y ON x.z = y.z AND x.n < y.n GROUP BY 1, 2)
        |SELECT CAST(u AS BIGINT) AS u, CAST(v AS BIGINT) AS v,
        |  CAST(n_common AS BIGINT) AS n_common, CAST(aa AS BIGINT) AS aa_micro
        |FROM sc
        |WHERE NOT EXISTS (SELECT 1 FROM e WHERE e.a = sc.u AND e.b = sc.v)
        |ORDER BY aa_micro DESC, u ASC, v ASC LIMIT 50""".stripMargin),
    // DeepWalk-style sequence sampling: one deterministic 4-step walk per
    // node of the symmetrized co-purchase graph (md5-uniform step choice
    // over the dst-ordered adjacency — bit-reproducible across engines)
    Entry("graph_random_walks", (s, d) => coPurchaseWalks(s, d), randomWalksSql),
    // word2vec-over-walks batch feed: (center, context) tallies within a
    // 2-step window of the shared walk corpus
    Entry("graph_walk_pairs", (s, d) =>
      GraphAnalytics.walkSkipGramPairs(coPurchaseWalks(s, d), window = 2), walkPairsSql),
    // the DeepWalk-PRODUCTION depth in the driver gate: 40-step walks,
    // ±5 skip-gram window (the short entry above keeps the cheap smoke
    // shape; this one pins the length the pair join must stay linear at)
    Entry("graph_walk_pairs_long", (s, d) => {
      val pairs = coPairs(s, d)
      val sym = pairs.select(col("a").as("src"), col("b").as("dst"))
        .unionByName(pairs.select(col("b").as("src"), col("a").as("dst")))
      GraphAnalytics.walkSkipGramPairs(
        GraphAnalytics.randomWalks(sym, walkLen = 40)
          .select(col("walk_id").cast("long"), col("step"), col("node").cast("long")),
        window = 5)
    }, walkPairsLongSql),
    // PMI over the skip-gram pairs (the SGNS implicit factorization
    // target) — integer micro-ln per pair cell over exact counts
    Entry("graph_walk_pmi", (s, d) =>
      GraphAnalytics.walkPairPmi(
        GraphAnalytics.walkSkipGramPairs(coPurchaseWalks(s, d), window = 2)), walkPmiSql),
    // deterministic SGNS negatives: k=3 noise nodes per skip-gram pair
    // from the unigram^0.75 context distribution (md5 uniform landed in
    // the integer milli-weight ladder — bit-replayable in the oracle)
    Entry("graph_walk_negatives", (s, d) =>
      GraphAnalytics.sgnsNegatives(
        GraphAnalytics.walkSkipGramPairs(coPurchaseWalks(s, d), window = 2), k = 3),
      walkNegativesSql),
    // word2vec frequent-node subsampling of the walk corpus (t = 1e-3):
    // hub occurrences thinned toward sqrt, steps compacted per walk
    Entry("graph_walk_subsample", (s, d) =>
      GraphAnalytics.subsampleFrequent(coPurchaseWalks(s, d), tMicro = 1000), walkSubsampleSql),
    // true second-order node2vec (p=4, q=0.5 → retMilli 250, outMilli
    // 2000): step bias depends on the PREVIOUS node — return discouraged,
    // venture-out favored; all-integer ladder, bit-replayable
    Entry("graph_node2vec_walks", (s, d) => {
      val pairs = coPairs(s, d)
      val sym = pairs.select(col("a").as("src"), col("b").as("dst"))
        .unionByName(pairs.select(col("b").as("src"), col("a").as("dst")))
      GraphAnalytics.node2vecWalks(sym, walkLen = 4, retMilli = 250, outMilli = 2000)
        .select(col("walk_id").cast("long"), col("step"), col("node").cast("long"))
    }, node2vecSql),
    // node2vec at DeepWalk-PRODUCTION depth (walkLen 40): the len-4 entry
    // above keeps the cheap smoke shape; this pins the depth a real
    // embedding corpus samples at, the second-order twin of
    // graph_walk_pairs_long (oracle: the same hop chain unrolled 40 deep)
    Entry("graph_node2vec_walks_long", (s, d) => {
      val pairs = coPairs(s, d)
      val sym = pairs.select(col("a").as("src"), col("b").as("dst"))
        .unionByName(pairs.select(col("b").as("src"), col("a").as("dst")))
      GraphAnalytics.node2vecWalks(sym, walkLen = 40, retMilli = 250, outMilli = 2000)
        .select(col("walk_id").cast("long"), col("step"), col("node").cast("long"))
    }, node2vecSqlN(40)),
    // community QUALITY metric over the LPA partition: per-community
    // Newman modularity contribution Q_c = E_c/M - (D_c/M)^2 on the same
    // symmetrized analytics edges LPA iterated over — exact-integer core
    // (decimal(38,0) products), one double division per community
    Entry("graph_modularity", (s, d) => {
      val g = analyticsSubgraph(graph(s, d))
      val labels = GraphAnalytics.labelPropagationDF(g, analyticsToLong,
          rounds = 3, symEdges = Some(symEdges(s, d)))
        .select(analyticsToLong(col("id")).as("vid"), col("label"))
      GraphAnalytics.modularityByCommunity(labels, symEdges(s, d))
    }, modularitySql),
    // degree assortativity of the thresholded co-purchase graph: do hubs
    // co-purchase with hubs? Pearson r between endpoint degrees over the
    // directed-symmetric edge list — guarded-Long sums, one IEEE division
    Entry("graph_assortativity", (s, d) => {
      val pairs = coPairs(s, d)
      val sym = pairs.select(col("a"), col("b"))
        .unionByName(pairs.select(col("b").as("a"), col("a").as("b")))
      GraphAnalytics.assortativity(sym)
    }, assortativitySql),
    // k-truss of the thresholded co-purchase graph (k=3: every surviving
    // edge closes >= 1 triangle among survivors; the 4-truss of this
    // graph is empty — its densest cohesion is triangle-level) — the
    // edge-cohesion analog of graph_kcore_df, synchronous peel to the
    // fixpoint. maxRounds = 16 deliberately EQUALS the oracle's fixed
    // unroll depth (kTrussSql): a denser future fixture that needs more
    // peel rounds fails loudly here ("did not converge in 16 rounds")
    // instead of surfacing as an opaque gate hash mismatch (ADVICE r14)
    Entry("graph_ktruss", (s, d) =>
      GraphAnalytics.kTruss(coPairs(s, d).select("a", "b"), k = 3, maxRounds = 16), kTrussSql),
    // FULL multi-level Louvain on the co-purchase graph: parity-alternated
    // local-move sweeps (8 per level), coarsen, repeat (3 levels) — the
    // caps are pinned by the oracle's fixed 3x8 CTE unroll; converged
    // rounds replay as no-ops (see GraphAnalytics.louvain on why bounded
    // sweeps, not a movement fixpoint, is the termination rule here)
    Entry("graph_louvain", (s, d) => louvainPartition(s, d, false),
      louvainSql(levels = 3, rounds = 8)),
    // Leiden-style refinement of the louvain partition: every community
    // split into its connected components within the community-induced
    // subgraph (Louvain can leave communities internally disconnected —
    // the defect Leiden is named for fixing). The partition comes from
    // the shared memo (Bench stages it), so the benched time is the
    // refinement cc ALONE, not ascent + cc measured by subtraction.
    Entry("graph_louvain_refine", (s, d) => {
      val pairs = coPairs(s, d)
      val sym = pairs.select(col("a"), col("b"))
        .unionByName(pairs.select(col("b").as("a"), col("a").as("b")))
      GraphAnalytics.refineCommunities(louvainPartition(s, d, false), sym)
    },
      // Leiden refinement replay: the full louvain unroll, then recursive
      // min-reachable cc over INTRA-community edges only; members with no
      // intra edge become singletons
      s"""${louvainCtes(3, 8).replaceFirst("WITH ", "WITH RECURSIVE ")},
         |intra AS MATERIALIZED (SELECT s.a, s.b FROM e1 s
         |  JOIN map3 la ON la.vid = s.a JOIN map3 lb ON lb.vid = s.b
         |  WHERE la.label = lb.label),
         |reach9 AS (SELECT a, b FROM intra
         |  UNION SELECT r.a, u.b FROM reach9 r JOIN intra u ON r.b = u.a),
         |frag AS (SELECT a AS vid, least(a, min(b)) AS cluster FROM reach9 GROUP BY a)
         |SELECT CAST(m.vid AS BIGINT) AS vid,
         |  CAST(coalesce(f.cluster, m.vid) AS BIGINT) AS label
         |FROM map3 m LEFT JOIN frag f ON f.vid = m.vid""".stripMargin),
    // the WEIGHTED ascent twin: shared-order counts as edge weights (the
    // gate's only weighted-louvain path; unit-weight entry above pins the
    // common case) — same caps, same oracle unroll with w carried through
    Entry("graph_louvain_weighted", (s, d) => louvainPartition(s, d, true),
      louvainSql(levels = 3, rounds = 8, weighted = true),
      // same plan and round count as graph_louvain; only the w column differs
      SiblingOf("graph_louvain")),
    // TRUE Leiden (Traag 2019 §III): refinement INTERLEAVED into the
    // level loop — coarsen on connected fragments, start each fragment in
    // its home community — so upper levels ascend on a well-formed base
    // (vs graph_louvain_refine, which repairs only the final level).
    // Same 3×8 caps; the oracle unrolls move rounds + per-level
    // recursive-cc refinement + fragment coarsening
    Entry("graph_leiden", (s, d) => leidenPartition(s, d), leidenSql(levels = 3, rounds = 8)),
    // quality twin of graph_louvain_quality for the INTERLEAVED schedule:
    // whole-partition modularity of leiden vs louvain on the same
    // co-purchase edges — pins the "+modularity at identical volume cost"
    // claim (SCALE.md r15) as a gate row instead of prose, and guards
    // future schedule changes that keep determinism but lose the gain.
    // Both partitions come from the shared memos (Bench stages them),
    // so the benched time is the two modularity rollups alone
    Entry("graph_leiden_quality", (s, d) => {
      val pairs = coPairs(s, d)
      // feeds two modularity rollups
      val sym = checkpoint(pairs.select(col("a"), col("b"))
        .unionByName(pairs.select(col("b").as("a"), col("a").as("b"))))
      def q(method: String, labels: DataFrame): DataFrame =
        GraphAnalytics.modularityTotal(labels, sym)
          .select(lit(method).as("method"), col("n_communities"),
            col("internal_directed"), col("q"))
      q("leiden", leidenPartition(s, d))
        .unionByName(q("louvain", louvainPartition(s, d, false)))
    }, leidenQualitySql),
    // partition-QUALITY row: whole-partition modularity of the louvain
    // ascent vs 3-round LPA vs singletons on the SAME co-purchase edges —
    // the gate pins exact labels elsewhere; this row asserts the ascent
    // actually IMPROVES something, guarding future knob changes
    // (maxRounds/levels/tie-breaks) that keep determinism but lose
    // quality. Louvain labels come from the shared memo (Bench stages
    // it); Q is the exact-integer one-division form (modularityTotal)
    Entry("graph_louvain_quality", (s, d) => {
      val pairs = coPairs(s, d)
      // feeds three modularity rollups + LPA
      val sym = checkpoint(pairs.select(col("a"), col("b"))
        .unionByName(pairs.select(col("b").as("a"), col("a").as("b"))))
      val singles = sym.select(col("a").as("vid")).distinct()
        .select(col("vid"), col("vid").as("label"))
      def q(method: String, labels: DataFrame): DataFrame =
        GraphAnalytics.modularityTotal(labels, sym)
          .select(lit(method).as("method"), col("n_communities"),
            col("internal_directed"), col("q"))
      q("louvain", louvainPartition(s, d, false))
        .unionByName(q("lpa3", lpaOverSym(sym, rounds = 3)))
        .unionByName(q("singletons", singles))
    }, louvainQualitySql),
    // one synchronous Louvain local-move round from singleton communities
    // on the co-purchase graph: per vertex, the modularity-gain argmax
    // over neighbor communities (exact-integer comparator M*k_vc - kv*D'c)
    Entry("graph_louvain_move", (s, d) => {
      val pairs = coPairs(s, d)
      val sym = pairs.select(col("a"), col("b"))
        .unionByName(pairs.select(col("b").as("a"), col("a").as("b")))
      val labels = sym.select(col("a").as("vid")).distinct()
        .select(col("vid"), col("vid").as("label"))
      GraphAnalytics.louvainMoveRound(labels, sym)
    },
      // synchronous local-move replay from singleton labels: per vertex the
      // (score desc, community asc) argmax of M*k_vc - kv*D'c — exact ints
      s"""WITH ${coPairsCte("e")},
        |sym AS MATERIALIZED (SELECT a, b FROM e UNION ALL SELECT b AS a, a AS b FROM e),
        |deg AS (SELECT a AS vid, count(*) AS kv FROM sym GROUP BY a),
        |lab AS (SELECT vid, vid AS label FROM deg),
        |dc AS (SELECT l.label, sum(coalesce(d.kv, 0)) AS dc
        |  FROM lab l LEFT JOIN deg d USING (vid) GROUP BY l.label),
        |mm AS (SELECT count(*) AS m FROM sym),
        |kvc AS (SELECT s.a AS vid, lb.label AS c, count(*) AS kvc
        |  FROM sym s JOIN lab lb ON lb.vid = s.b GROUP BY 1, 2),
        |cand AS (SELECT vid, c, max(kvc) AS kvc FROM (
        |  SELECT vid, c, kvc FROM kvc
        |  UNION ALL SELECT vid, label AS c, 0 FROM lab) u GROUP BY vid, c),
        |sc AS (SELECT cd.vid, l.label AS old_label, cd.c,
        |    m * cd.kvc - d.kv * (dcc.dc - CASE WHEN cd.c = l.label THEN d.kv ELSE 0 END) AS score
        |  FROM cand cd JOIN lab l ON l.vid = cd.vid
        |  JOIN deg d ON d.vid = cd.vid
        |  JOIN dc dcc ON dcc.label = cd.c
        |  CROSS JOIN mm),
        |r AS (SELECT vid, old_label, c, score,
        |  row_number() OVER (PARTITION BY vid ORDER BY score DESC, c ASC) AS rn FROM sc)
        |SELECT CAST(vid AS BIGINT) AS vid, CAST(old_label AS BIGINT) AS old_label,
        |  CAST(c AS BIGINT) AS new_label, CAST(score AS BIGINT) AS gain_cmp
        |FROM r WHERE rn = 1""".stripMargin),
    // per-vertex local clustering coefficient of the thresholded
    // co-purchase graph: triangles/(deg choose 2) in exact micro-units —
    // the compact-forward triangle core shared with graph_triangles_df
    Entry("graph_clustering_coeff", (s, d) => {
      val pairs = coPairs(s, d)
        .select("a", "b")
      GraphAnalytics.clusteringCoefficients(pairs)
    },
      // per-vertex wedge-closure replay: tri(v) = closing (x < y) neighbor
      // pairs; coefficient in integer micro-units, deg < 2 scores 0
      s"""WITH ${coPairsCte("e")},
        |sym AS MATERIALIZED (SELECT a, b FROM e UNION ALL SELECT b AS a, a AS b FROM e),
        |deg AS (SELECT a AS v, count(*) AS dg FROM sym GROUP BY a),
        |tri AS (SELECT s1.a AS v, count(*) AS t
        |  FROM sym s1 JOIN sym s2 ON s1.a = s2.a AND s1.b < s2.b
        |  JOIN e ON e.a = s1.b AND e.b = s2.b
        |  GROUP BY s1.a)
        |SELECT CAST(deg.v AS BIGINT) AS vid, CAST(dg AS BIGINT) AS degree,
        |  CAST(coalesce(t, 0) AS BIGINT) AS triangles,
        |  CASE WHEN dg < 2 THEN 0
        |    ELSE CAST((2000000 * coalesce(t, 0)) // (dg * (dg - 1)) AS BIGINT) END AS coeff_micro
        |FROM deg LEFT JOIN tri ON tri.v = deg.v""".stripMargin),
    // weight-proportional walks: step choice lands the md5 uniform in the
    // neighbor's slot of the cumulative shared-order-count ladder
    Entry("graph_weighted_walks", (s, d) => {
      val pairs = coPairs(s, d)
      val sym = pairs.select(col("a").as("src"), col("b").as("dst"), col("w").as("weight"))
        .unionByName(pairs.select(col("b").as("src"), col("a").as("dst"), col("w").as("weight")))
      GraphAnalytics.weightedRandomWalks(sym, walkLen = 4)
        .select(col("walk_id").cast("long"), col("step"), col("node").cast("long"))
    }, weightedWalksSql),
    // WEIGHTED shortest paths (min-plus over an explicit weighted edge
    // table — the WeightedGraph surface with an actual algorithm):
    // customer -> nation -> region with deterministic integer weights;
    // paths are unique, so the closed form IS the oracle
    Entry("graph_wsssp_df", (s, d) => {
      val e1 = t(s, d, "nation").select(
        (col("n_nationkey") + 100).cast("long").as("src"),
        col("n_regionkey").cast("long").as("dst"),
        (col("n_nationkey") % 5 + 1).cast("double").as("weight"))
      val e2 = t(s, d, "customer").select(
        (col("c_custkey") + 1000).cast("long").as("src"),
        (col("c_nationkey") + 100).cast("long").as("dst"),
        (col("c_custkey") % 7 + 1).cast("double").as("weight"))
      GraphAnalytics.weightedShortestPathsDF(e1.unionByName(e2),
        landmarks = Seq(0L, 1L, 2L, 3L, 4L))
    },
      // unique-path closed form: region 0 to itself, nation = its own
      // edge weight, customer = customer-edge + nation-edge weights
      """SELECT CAST(r_regionkey AS BIGINT) AS vid, CAST(r_regionkey AS BIGINT) AS landmark, CAST(0 AS DOUBLE) AS dist FROM region
        |UNION ALL SELECT CAST(100 + n_nationkey AS BIGINT), CAST(n_regionkey AS BIGINT), CAST(n_nationkey % 5 + 1 AS DOUBLE) FROM nation
        |UNION ALL SELECT CAST(1000 + c_custkey AS BIGINT), CAST(n_regionkey AS BIGINT), CAST((c_custkey % 7 + 1) + (n_nationkey % 5 + 1) AS DOUBLE) FROM customer JOIN nation ON c_nationkey = n_nationkey""".stripMargin),

    // §2.8 host-level aggregation patterns (cocktail_statistic analogues)
    Entry("agg_pricing_summary", (s, d) =>
      t(s, d, "lineitem").groupBy("l_returnflag", "l_linestatus").agg(
        sum("l_quantity").as("sum_qty"),
        round(sum(col("l_extendedprice").cast("decimal(18,2)")), 2).cast("double").as("sum_base_price"),
        avg("l_quantity").as("avg_qty"),
        count(lit(1)).as("cnt")),
      """SELECT l_returnflag, l_linestatus, sum(l_quantity) AS sum_qty,
        |CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,2))), 2) AS DOUBLE) AS sum_base_price,
        |avg(l_quantity) AS avg_qty, count(*) AS cnt
        |FROM lineitem GROUP BY l_returnflag, l_linestatus""".stripMargin),
    Entry("agg_topk_parts", (s, d) => {
      val li = t(s, d, "lineitem"); val part = t(s, d, "part")
      li.join(part, li("l_partkey") === part("p_partkey"))
        .groupBy("p_name").agg(count(lit(1)).as("cnt"))
        .orderBy(desc("cnt"), asc("p_name")).limit(5)
    },
      """SELECT p_name, count(*) AS cnt FROM lineitem JOIN part ON l_partkey = p_partkey
        |GROUP BY p_name ORDER BY cnt DESC, p_name ASC LIMIT 5""".stripMargin),
    Entry("agg_order_stats", (s, d) =>
      t(s, d, "lineitem").groupBy("l_orderkey").agg(count(lit(1)).as("c"))
        .agg(min("c").as("min_items"), max("c").as("max_items"),
          round(avg("c"), 6).cast("double").as("avg_items"),
          count(lit(1)).as("n_orders")),
      """SELECT min(c) AS min_items, max(c) AS max_items,
        |CAST(round(avg(c), 6) AS DOUBLE) AS avg_items, count(*) AS n_orders
        |FROM (SELECT count(*) AS c FROM lineitem GROUP BY l_orderkey) t""".stripMargin),
    Entry("join_revenue_by_nation", (s, d) => {
      val li = t(s, d, "lineitem"); val o = t(s, d, "orders")
      val c = t(s, d, "customer"); val n = t(s, d, "nation")
      li.join(o, li("l_orderkey") === o("o_orderkey"))
        .join(c, o("o_custkey") === c("c_custkey"))
        .join(n, c("c_nationkey") === n("n_nationkey"))
        .groupBy("n_name")
        .agg(round(sum(col("l_extendedprice").cast("decimal(18,2)") *
          (lit(1) - col("l_discount").cast("decimal(18,2)"))), 2).cast("double").as("revenue"))
    },
      """SELECT n_name,
        |CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))), 2) AS DOUBLE) AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY n_name""".stripMargin),
    // §2.8 + 100 TB checklist: salted equi-join — same rows as the plain
    // join (the oracle is the UNSALTED SQL), hot keys spread over 8 reducers
    Entry("join_salted_skew", (s, d) => {
      val li = t(s, d, "lineitem").select(col("l_suppkey").as("suppkey"),
        col("l_extendedprice"), col("l_discount"))
      val sup = t(s, d, "supplier").select(col("s_suppkey").as("suppkey"), col("s_name"))
      graft.pipeline.Skew.saltedJoin(li, sup, Seq("suppkey"), salt = 8)
        .groupBy("s_name")
        .agg(round(sum(col("l_extendedprice").cast("decimal(18,2)") *
          (lit(1) - col("l_discount").cast("decimal(18,2)"))), 2).cast("double").as("revenue"))
    },
      """SELECT s_name,
        |CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))), 2) AS DOUBLE) AS revenue
        |FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
        |GROUP BY s_name""".stripMargin),
    // exact distributed quantiles (sort-based percentile, linear
    // interpolation — the same definition as SQL quantile_cont)
    Entry("agg_quantiles", (s, d) =>
      t(s, d, "orders").groupBy("o_orderstatus")
        .agg(expr("percentile(o_totalprice, array(0.25, 0.5, 0.75))").as("qs"),
          count(lit(1)).as("cnt"))
        .select(col("o_orderstatus"),
          round(col("qs").getItem(0), 4).as("q25"),
          round(col("qs").getItem(1), 4).as("q50"),
          round(col("qs").getItem(2), 4).as("q75"),
          col("cnt")),
      """SELECT o_orderstatus,
        |round(qs[1], 4) AS q25, round(qs[2], 4) AS q50, round(qs[3], 4) AS q75, cnt
        |FROM (SELECT o_orderstatus,
        |  quantile_cont(o_totalprice, [0.25, 0.5, 0.75]) AS qs, count(*) AS cnt
        |FROM orders GROUP BY o_orderstatus)""".stripMargin),
    Entry("window_top_order", (s, d) => {
      val w = Window.partitionBy("o_custkey").orderBy(desc("o_totalprice"), asc("o_orderkey"))
      t(s, d, "orders").withColumn("rn", row_number().over(w))
        .where(col("rn") === 1)
        .select("o_custkey", "o_orderkey", "o_totalprice")
    },
      """SELECT o_custkey, o_orderkey, o_totalprice FROM (
        |SELECT o_custkey, o_orderkey, o_totalprice,
        |row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
        |FROM orders) t WHERE rn = 1""".stripMargin),
    // stateful sessionization (flatMapGroupsWithState) run in batch mode:
    // closed sessions only — each user's trailing open session stays in
    // state, exactly what the streaming run would hold back too
    Entry("events_sessionize", (s, d) => {
      val ev = t(s, d, "events").select(col("user_id"),
        timestamp_seconds(expr("ts DIV 1000000000")).as("ts"))
      graft.streaming.EventStreams.sessionize(ev, gapSeconds = 1800).toDF()
        .select(col("userId").as("user_id"), col("nEvents").as("n_events"),
          col("firstTs").as("first_ts"), col("lastTs").as("last_ts"))
    },
      """WITH e AS (SELECT user_id, epoch_ns(ts) // 1000000000 AS sec FROM events),
        |o AS (SELECT user_id, sec,
        |  CASE WHEN sec - lag(sec) OVER (PARTITION BY user_id ORDER BY sec) > 1800 THEN 1 ELSE 0 END AS brk
        |FROM e),
        |g AS (SELECT user_id, sec,
        |  sum(brk) OVER (PARTITION BY user_id ORDER BY sec ROWS UNBOUNDED PRECEDING) AS grp
        |FROM o),
        |sess AS (SELECT user_id, grp, count(*) AS n_events, min(sec) AS first_ts, max(sec) AS last_ts
        |  FROM g GROUP BY 1, 2),
        |last AS (SELECT user_id, max(grp) AS maxg FROM sess GROUP BY 1)
        |SELECT s.user_id, n_events, first_ts, last_ts
        |FROM sess s JOIN last l ON s.user_id = l.user_id AND s.grp < l.maxg""".stripMargin),
    // the NATIVE session_window twin of the custom-state sessionizer:
    // Spark's built-in gap-session aggregation (groupBy user +
    // session_window) — zero custom state code, emits EVERY session
    // including each user's trailing one, window end = last event + gap.
    // Boundary semantics MATCH sessionize: an event exactly gap seconds
    // after the previous one merges (spec-pinned; a new session needs
    // diff > gap)
    Entry("events_session_window", (s, d) => {
      val ev = t(s, d, "events").select(col("user_id"),
        timestamp_seconds(expr("ts DIV 1000000000")).as("ts"))
      ev.groupBy(col("user_id"), session_window(col("ts"), "1800 seconds").as("sw"))
        .agg(count(lit(1)).as("n_events"))
        .select(col("user_id"), col("n_events"),
          unix_timestamp(col("sw.start")).as("first_ts"),
          unix_timestamp(col("sw.end")).as("sess_end"))
    },
      // the built-in session_window rule: a new session needs diff > gap
      // (an exact-gap event merges — spec-pinned); every session emits,
      // end = last event + gap
      """WITH e AS (SELECT user_id, epoch_ns(ts) // 1000000000 AS sec FROM events),
        |o AS (SELECT user_id, sec,
        |  CASE WHEN sec - lag(sec) OVER (PARTITION BY user_id ORDER BY sec) > 1800 THEN 1 ELSE 0 END AS brk
        |FROM e),
        |g AS (SELECT user_id, sec,
        |  sum(brk) OVER (PARTITION BY user_id ORDER BY sec ROWS UNBOUNDED PRECEDING) AS grp
        |FROM o)
        |SELECT user_id, count(*) AS n_events, min(sec) AS first_ts,
        |  max(sec) + 1800 AS sess_end
        |FROM g GROUP BY user_id, grp""".stripMargin),
    // DAU / trailing-7-day WAU / stickiness per event day; the rolling
    // distinct fans (day, user) pairs to their 7 target days — bounded by
    // distinct pairs, never by raw events
    Entry("events_active_users", (s, d) =>
      graft.streaming.EventStreams.activeUsersReport(
        t(s, d, "events").select(col("user_id"),
          timestamp_seconds(expr("ts DIV 1000000000")).as("ts"))),
      """WITH e AS (SELECT DISTINCT (epoch_ns(ts) // 1000000000) // 86400 AS day, user_id FROM events),
        |dau AS (SELECT day, count(DISTINCT user_id) AS dau FROM e GROUP BY day),
        |ex AS (SELECT day + g AS day2, user_id FROM
        |  (SELECT day, user_id, unnest(range(0, 7)) AS g FROM e)),
        |wau AS (SELECT day2 AS day, count(DISTINCT user_id) AS wau FROM ex GROUP BY day2)
        |SELECT CAST(d.day AS BIGINT) AS day, CAST(d.dau AS BIGINT) AS dau,
        |  CAST(w.wau AS BIGINT) AS wau,
        |  CAST((1000000 * d.dau) // w.wau AS BIGINT) AS stickiness_micro
        |FROM dau d JOIN wau w ON w.day = d.day""".stripMargin),
    // first-order Markov transitions over per-user event sequences
    // ((ts, event_id)-ordered so ties replay identically): per (from, to)
    // type pair, count + micro-unit transition probability
    Entry("events_transition_matrix", (s, d) =>
      graft.streaming.EventStreams.transitionMatrix(t(s, d, "events")),
      // (ts, event_id)-ordered per-user lead pairs; Spark ts is canonical
      // long NANOSECONDS, matched by epoch_ns here
      """WITH e AS (SELECT user_id, event_id, event_type, epoch_ns(ts) AS tn FROM events),
        |s AS (SELECT user_id, event_type AS f,
        |    lead(event_type) OVER (PARTITION BY user_id ORDER BY tn, event_id) AS t
        |  FROM e),
        |c AS (SELECT f, t, count(*) AS n FROM s WHERE t IS NOT NULL GROUP BY 1, 2),
        |tot AS (SELECT f, sum(n) AS tt FROM c GROUP BY f)
        |SELECT c.f AS from_type, c.t AS to_type, CAST(n AS BIGINT) AS n,
        |  CAST((1000000 * n) // tot.tt AS BIGINT) AS p_micro
        |FROM c JOIN tot ON c.f = tot.f""".stripMargin),
    // stream-stream interval join run in batch form: click→view attribution
    // within a trailing 1-day event-time window (watermarks bound the
    // streaming state; identical rows in batch)
    Entry("events_interval_join", (s, d) => {
      val ev = t(s, d, "events").select(col("event_id"), col("user_id"),
        col("event_type"), timestamp_seconds(expr("ts DIV 1000000000")).as("ts"))
      graft.streaming.EventStreams.intervalJoin(
        ev.where(col("event_type") === "click"),
        ev.where(col("event_type") === "view"),
        windowSeconds = 86400)
    },
      """WITH e AS (SELECT event_id, user_id, event_type, epoch_ns(ts) // 1000000000 AS sec FROM events)
        |SELECT c.user_id, c.event_id AS click_id, v.event_id AS view_id, c.sec - v.sec AS lag_sec
        |FROM e c JOIN e v ON v.user_id = c.user_id AND c.event_type = 'click' AND v.event_type = 'view'
        |AND v.sec BETWEEN c.sec - 86400 AND c.sec""".stripMargin),
    // ts arrives as LONG nanoseconds (TpchGraph.table's canonical boundary
    // normalizes whatever the parquet stores); bucket with exact integer
    // division
    Entry("events_window_agg", (s, d) =>
      t(s, d, "events").groupBy(
        col("event_type"),
        expr("ts DIV 300000000000").as("bucket")).agg(
        count(lit(1)).as("cnt"),
        round(sum(col("value").cast("decimal(18,6)")), 4).cast("double").as("sum_value")),
      """SELECT event_type, epoch_ns(ts) // 300000000000 AS bucket, count(*) AS cnt,
        |CAST(round(sum(CAST(value AS DECIMAL(18,6))), 4) AS DOUBLE) AS sum_value
        |FROM events GROUP BY event_type, bucket""".stripMargin),
    // SLIDING 10-minute windows every 5 minutes through the real streaming
    // transform (Spark window() with slideDuration; batch==stream parity
    // asserted in StreamingSpec) — each event lands in exactly 2 windows
    Entry("events_sliding_window", (s, d) =>
      graft.streaming.EventStreams.slidingCounts(
          t(s, d, "events").select(
            timestamp_seconds(expr("ts DIV 1000000000")).as("ts"),
            col("event_type"), col("value")))
        .select(col("window_start").cast("long").as("w_start"),
          col("event_type"), col("cnt"), col("sum_value")),
      // sliding windows: an event at second t belongs to starts
      // {floor(t/300)*300 - 300*i : i in 0..1} (Spark window() epoch-aligned
      // membership, s <= t < s + 600)
      """WITH e AS (SELECT event_type, epoch_ns(ts) // 1000000000 AS t, value FROM events),
        |w AS (SELECT event_type, value, (t // 300) * 300 - 300 * i AS w_start
        |  FROM e CROSS JOIN (SELECT unnest(range(0, 2)) AS i))
        |SELECT w_start, event_type, count(*) AS cnt,
        |  CAST(round(sum(CAST(value AS DECIMAL(18,6))), 4) AS DOUBLE) AS sum_value
        |FROM w GROUP BY w_start, event_type""".stripMargin),
    // event-type distribution DRIFT between consecutive hourly windows:
    // integer micro-unit shares, L1 distance — the serving-pipeline
    // health monitor (a data regression shifts the mix)
    Entry("events_label_drift", (s, d) =>
      graft.streaming.EventStreams.labelDrift(
          t(s, d, "events").select(
            timestamp_seconds(expr("ts DIV 1000000000")).as("ts"),
            col("event_type")))
        .select(col("window_start").cast("long").as("w_start"),
          col("n_events"), col("drift_micro")),
      // hourly micro-unit shares, full-joined to the predecessor window's
      // shares per type, L1-summed; first/gap-successor windows drop
      """WITH e AS (SELECT event_type, ((epoch_ns(ts) // 1000000000) // 3600) * 3600 AS w FROM events),
        |per AS (SELECT w, event_type AS t, count(*) AS c FROM e GROUP BY 1, 2),
        |tot AS (SELECT w, sum(c) AS n FROM per GROUP BY 1),
        |sh AS (SELECT per.w, per.t, (per.c * 1000000) // tot.n AS s, tot.n AS n
        |  FROM per JOIN tot USING (w)),
        |pv AS (SELECT w + 3600 AS w, t, s AS sp FROM sh),
        |j AS (SELECT coalesce(sh.w, pv.w) AS w, coalesce(sh.s, 0) AS s,
        |    coalesce(pv.sp, 0) AS sp, sh.n AS n
        |  FROM sh FULL JOIN pv ON sh.w = pv.w AND sh.t = pv.t),
        |d AS (SELECT w, max(n) AS n, sum(abs(s - sp)) AS drift FROM j GROUP BY w)
        |SELECT CAST(d.w AS BIGINT) AS w_start, CAST(d.n AS BIGINT) AS n_events,
        |  CAST(d.drift AS BIGINT) AS drift_micro
        |FROM d JOIN (SELECT DISTINCT w + 3600 AS w FROM tot) p ON p.w = d.w
        |WHERE d.n IS NOT NULL""".stripMargin),
    // per-user behavioral sequences: first-20 event-type prefix string in
    // (ts, event_id) order + full event count — the sequence-model feed
    Entry("events_user_sequences", (s, d) =>
      graft.streaming.EventStreams.userSequences(
        t(s, d, "events").select(col("user_id"), col("ts").as("tns"),
          col("event_id"), col("event_type"))),
      """WITH e AS (SELECT user_id, epoch_ns(ts) AS tns, event_id, event_type FROM events),
        |r AS (SELECT user_id, event_type, tns, event_id,
        |    row_number() OVER (PARTITION BY user_id ORDER BY tns, event_id) AS rn
        |  FROM e),
        |seq AS (SELECT user_id, string_agg(event_type, ' ' ORDER BY tns, event_id) AS seq_prefix
        |  FROM r WHERE rn <= 20 GROUP BY user_id),
        |c AS (SELECT user_id, count(*) AS n_events FROM e GROUP BY 1)
        |SELECT c.user_id, c.n_events, s.seq_prefix
        |FROM c JOIN seq s USING (user_id)""".stripMargin),
    // weekly retention cohorts: users bucketed by first-seen week,
    // distinct-user counts per (cohort, week offset)
    Entry("events_retention", (s, d) =>
      graft.streaming.EventStreams.retentionCohorts(
        t(s, d, "events").select(col("user_id"),
          timestamp_seconds(expr("ts DIV 1000000000")).as("ts"))),
      """WITH e AS (SELECT DISTINCT user_id AS u, (epoch_ns(ts) // 1000000000) // 604800 AS w FROM events),
        |c AS (SELECT u, min(w) AS cw FROM e GROUP BY 1)
        |SELECT CAST(c.cw AS BIGINT) AS cohort_week, CAST(e.w - c.cw AS BIGINT) AS offset_weeks,
        |  count(*) AS n_users
        |FROM e JOIN c USING (u) GROUP BY 1, 2""".stripMargin),
    // hourly per-type rate anomalies vs the trailing-24h window on a dense
    // zero-filled hour grid — exact integer cross-multiplied thresholds
    Entry("events_rate_anomaly", (s, d) =>
      graft.streaming.EventStreams.rateAnomalies(
        t(s, d, "events").select(col("event_type"),
          timestamp_seconds(expr("ts DIV 1000000000")).as("ts"))),
      // same dense grid + trailing frame + integer cross-multiplication as
      // rateAnomalies; partial trailing windows are excluded by nw = 24
      """WITH cnt AS (SELECT event_type AS t, (epoch_ns(ts) // 1000000000) // 3600 AS h, count(*) AS c
        |  FROM events GROUP BY 1, 2),
        |b AS (SELECT min(h) AS h0, max(h) AS h1 FROM cnt),
        |grid AS (SELECT t, unnest(range(b.h0, b.h1 + 1)) AS h
        |  FROM (SELECT DISTINCT t FROM cnt) tt CROSS JOIN b),
        |dense AS (SELECT g.t, g.h, coalesce(c.c, 0) AS c
        |  FROM grid g LEFT JOIN cnt c ON c.t = g.t AND c.h = g.h),
        |win AS (SELECT t, h, c,
        |  coalesce(sum(c) OVER (PARTITION BY t ORDER BY h ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING), 0) AS tsum,
        |  count(*) OVER (PARTITION BY t ORDER BY h ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING) AS nw
        |  FROM dense)
        |SELECT t AS event_type, CAST(h * 3600 AS BIGINT) AS hour_start, CAST(c AS BIGINT) AS cnt,
        |  CAST(tsum AS BIGINT) AS trail_sum,
        |  CASE WHEN c * 24 > tsum * 2 THEN 'spike' ELSE 'drop' END AS flag
        |FROM win WHERE nw = 24 AND (c * 24 > tsum * 2 OR c * 24 * 2 < tsum)""".stripMargin),
    // conversion funnel click→view→purchase with STRICT first-occurrence
    // chaining: per user, the first click, the first view after it, the
    // first purchase after that — three conditional-min aggregations all
    // keyed by user_id (co-partitioned shuffles, exchange reuse at scale),
    // reduced to one row of stage counts + conversion rates
    Entry("events_funnel", (s, d) =>
      graft.streaming.EventStreams.funnelCounts(t(s, d, "events"),
        "user_id", "event_type", "ts", Seq("click", "view", "purchase")),
      // mirrors the union + carry-forward + rejoin plan of
      // TemporalJoins.asofJoin exactly (same explicit null ordering, the
      // winning row's id carried and its payload joined back in one piece),
      // so tie cases are pinned rather than left to an engine's ASOF choice
      """WITH e AS (SELECT user_id, event_type, epoch_ns(ts) AS tns FROM events),
        |s1 AS (SELECT user_id, min(CASE WHEN event_type = 'click' THEN tns END) AS t_click
        |  FROM e GROUP BY user_id HAVING min(CASE WHEN event_type = 'click' THEN tns END) IS NOT NULL),
        |s2 AS (SELECT e.user_id, min(CASE WHEN event_type = 'view' AND tns > t_click THEN tns END) AS t_view
        |  FROM e JOIN s1 USING (user_id) GROUP BY e.user_id, t_click
        |  HAVING min(CASE WHEN event_type = 'view' AND tns > t_click THEN tns END) IS NOT NULL),
        |s3 AS (SELECT e.user_id, min(CASE WHEN event_type = 'purchase' AND tns > t_view THEN tns END) AS t_purchase
        |  FROM e JOIN s2 USING (user_id) GROUP BY e.user_id, t_view
        |  HAVING min(CASE WHEN event_type = 'purchase' AND tns > t_view THEN tns END) IS NOT NULL),
        |c AS (SELECT
        |  (SELECT count(*) FROM s1) AS n_click,
        |  (SELECT count(*) FROM s2) AS n_click_view,
        |  (SELECT count(*) FROM s3) AS n_click_view_purchase)
        |SELECT n_click, n_click_view, n_click_view_purchase,
        |  round(CAST(n_click_view AS DOUBLE) / NULLIF(n_click, 0), 4) AS rate_view,
        |  round(CAST(n_click_view_purchase AS DOUBLE) / NULLIF(n_click_view, 0), 4) AS rate_purchase
        |FROM c""".stripMargin),
    // as-of join: each click matched to the user's most recent view at or
    // before it (union + window carry-forward — one shuffle by user, no
    // per-row range probe); clicks before any view keep nulls
    Entry("events_asof_join", (s, d) => {
      val ev = t(s, d, "events")
      val clicks = ev.where(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), col("ts"))
      val views = ev.where(col("event_type") === "view")
        .select(col("user_id"), col("ts"), col("event_id").as("view_id"),
          col("value").as("view_value"))
      graft.pipeline.TemporalJoins.asofJoin(clicks, views, "user_id", "ts", "view_id")
        .select(col("event_id"), col("user_id"),
          col("asof_view_id").as("view_id"), col("asof_view_value").as("view_value"))
    },
      """WITH e AS (SELECT event_id, user_id, event_type, value, epoch_ns(ts) AS tns FROM events),
        |u AS (
        |  SELECT user_id, tns, 1 AS side, event_id, NULL::BIGINT AS tie
        |  FROM e WHERE event_type = 'click'
        |  UNION ALL
        |  SELECT user_id, tns, 0, NULL, event_id FROM e WHERE event_type = 'view'),
        |c AS (SELECT user_id, side, event_id,
        |  last_value(tie IGNORE NULLS) OVER w AS m
        |  FROM u WINDOW w AS (PARTITION BY user_id ORDER BY tns ASC NULLS FIRST, side, tie ASC NULLS FIRST
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
        |SELECT c.event_id, c.user_id, v.event_id AS view_id, v.value AS view_value
        |FROM c LEFT JOIN e v ON v.event_type = 'view' AND v.user_id = c.user_id AND v.event_id = c.m
        |WHERE c.side = 1""".stripMargin),
    // binned range join: purchases inside a 4-hour attribution window after
    // each signup — intervals exploded onto 1-hour bins, equi-join on
    // (user, bin), exact BETWEEN filter; never a nested-loop range join
    Entry("events_range_join", (s, d) => {
      val ev = t(s, d, "events")
      val purchases = ev.where(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"))
      val windows = ev.where(col("event_type") === "signup")
        .select(col("user_id"), col("event_id").as("w_id"), col("ts").as("w_start"),
          (col("ts") + lit(14400000000000L)).as("w_end"))
      graft.pipeline.TemporalJoins.rangeJoinBinned(purchases, windows,
        "ts", "w_start", "w_end", binWidth = 3600000000000L, keys = Seq("user_id"))
        .select("event_id", "w_id")
    },
      """WITH e AS (SELECT event_id, user_id, event_type, epoch_ns(ts) AS tns FROM events),
        |w AS (SELECT event_id AS w_id, user_id, tns AS ws, tns + 14400000000000 AS we
        |  FROM e WHERE event_type = 'signup')
        |SELECT p.event_id, w_id FROM e p JOIN w ON p.user_id = w.user_id AND p.tns BETWEEN ws AND we
        |WHERE p.event_type = 'purchase'""".stripMargin),
  )
}

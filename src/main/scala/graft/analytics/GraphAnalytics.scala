package graft.analytics

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.model.GraphStore
import graft.Materialize.{checkpoint, using}

/** The reference's declared-but-unimplemented analytics surface
  * (`Graph`/`DirectedGraph` traits, lib.rs:16-65; design target
  * docs/gravity.adoc:240-305) realized on DataFrames, plus whole-graph
  * algorithms, each on one DataFrame kernel. GraphX stays the parity
  * oracle of the test suite (BASELINE: "GraphX for analytics queries"),
  * not an engine path.
  */
object GraphAnalytics {

  /** Hop-chain checkpoint cadence for the walk generators: lineage (and
    * Catalyst plan depth) stays bounded at this many chained hop joins,
    * while the number of blocking scheduling barriers drops from walkLen
    * to walkLen/8 — the dominant cost of deep walks on a local master,
    * and wasted stage round-trips on a cluster. */
  private val WalkCheckpointEvery = 8

  /** order = |V| (trait method `order`, lib.rs:16-65). */
  def order(g: GraphStore): Long = g.vertices.count()

  /** size = |E|. */
  def size(g: GraphStore): Long = g.edges.count()

  def isEmpty(g: GraphStore): Boolean = g.vertices.isEmpty

  /** Per-vertex in/out degree; vertices with no edges get 0 (one aggregation
    * per direction, map-side combined — no per-vertex lookups). */
  def degrees(g: GraphStore): DataFrame = {
    val outD = g.edges.groupBy(col("src").as("id")).agg(count(lit(1)).as("out_deg"))
    val inD = g.edges.groupBy(col("dst").as("id")).agg(count(lit(1)).as("in_deg"))
    g.vertices.select("id")
      .join(outD, Seq("id"), "left")
      .join(inD, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("in_deg"), lit(0L)).as("in_deg"),
        coalesce(col("out_deg"), lit(0L)).as("out_deg"))
  }

  /** Undirected neighbor set of one vertex. */
  def neighbors(g: GraphStore, id: String): DataFrame =
    g.edges.where(col("dst") === id).select(col("src").as("id"))
      .unionByName(g.edges.where(col("src") === id).select(col("dst").as("id")))
      .distinct()

  def hasEdge(g: GraphStore, src: String, dst: String): Boolean =
    !g.edges.where(col("src") === src && col("dst") === dst).isEmpty

  /** WeightedGraph surface (reference trait lib.rs:16-65, no implementor
    * there): per-edge weight extracted from the edge property payload via
    * `weightOf` (a JSON path into the canonical property value); edges whose
    * property yields no number get `default`. */
  def weightedEdges(g: GraphStore, weightPath: String = "$.Weight",
                    default: Double = 1.0): DataFrame = {
    val p = g.props
    g.edges
      .join(p.select(p("hash").as("__h"), p("value")), col("prop_hash") === col("__h"), "left")
      .select(col("edge_id"), col("src"), col("dst"),
        coalesce(get_json_object(col("value"), weightPath).cast("double"),
          lit(default)).as("weight"))
  }

  /** weight(src, dst): sum of weights over parallel edges between the pair
    * (content-addressing collapses true duplicates already). */
  def weight(g: GraphStore, src: String, dst: String,
             weightPath: String = "$.Weight"): Option[Double] = {
    val rows = weightedEdges(g, weightPath)
      .where(col("src") === src && col("dst") === dst)
      .agg(sum("weight")).collect()
    if (rows.head.isNullAt(0)) None else Some(rows.head.getDouble(0))
  }

  /** The long-id vertex map (vid, id) of `g`. `toLong` must be a
    * deterministic, collision-free mapping from the string vertex id to a
    * long — results of id-sensitive algorithms (e.g. connectedComponents
    * returns the MIN long id per component) are then reproducible across
    * runs and partitionings, unlike zipWithIndex. */
  private def longVerts(g: GraphStore, toLong: Column => Column): DataFrame =
    g.vertices.select(toLong(col("id")).as("vid"), col("id"))

  /** `body` over `g`'s [[longVerts]] and its directed long-id (src, dst)
    * edges — the prologue of the iterative algorithms that read the edges
    * every round. The edges are persisted for the call and released after
    * it; the vertex map stays a plain projection, because the algorithms
    * read it only in the frame they return, after the scope has ended. */
  private def withLongIds[A](g: GraphStore, toLong: Column => Column)
                            (body: (DataFrame, DataFrame) => A): A =
    using(g.edges.select(toLong(col("src")).as("src"), toLong(col("dst")).as("dst"))) {
      body(longVerts(g, toLong), _)
    }

  /** Connected components (undirected). Returns (id, component) for every
    * vertex, where component = the minimum mapped long id in the
    * component: [[graft.pipeline.ConnectedComponents.labels]] over the
    * long-id edges, so an isolated vertex keeps its own long id. */
  def connectedComponents(g: GraphStore, toLong: Column => Column): DataFrame = {
    val labels = graft.pipeline.ConnectedComponents.labels(
      g.edges.select(toLong(col("src")).as("a"), toLong(col("dst")).as("b")))
    longVerts(g, toLong)
      .join(labels.select(col("id").as("vid"), col("cluster")), Seq("vid"), "left")
      .select(col("id"), coalesce(col("cluster"), col("vid")).as("component"))
  }

  /** Static PageRank as pure DataFrame power iteration, with GraphX's
    * static PageRank semantics (resetProb restart, contributions r/outdeg
    * along edge direction, dangling mass not redistributed, final ranks
    * normalized to sum |V|; the test suite checks the parity): per-source
    * shares and per-destination sums are codegen'd hash aggregations, AQE sizes
    * every shuffle, and a checkpoint every 5 rounds ([[Superstep.rounds]])
    * keeps plan depth bounded. On a real cluster the rank table and edge
    * list co-partition on the vertex key across iterations, so the join
    * reuses one exchange per side per round. */
  def pageRankDF(g: GraphStore, toLong: Column => Column, numIter: Int = 10,
                 resetProb: Double = 0.15): DataFrame = {
    require(numIter >= 1, s"need numIter >= 1; got $numIter")
    withLongIds(g, toLong) { (verts, edges) =>
      // every join below is a USING join on a shared column name (never a
      // df("col") condition): iteration i+1's rank table carries the edge
      // lineage of iteration i, so dataset-tagged column references would
      // trip DetectAmbiguousSelfJoin once lineage survives across rounds.
      //
      // The loop iterates over OUT-DEGREE VERTICES ONLY, carrying the
      // out-degree inside the iterated frame: in(v) only ever reads shares
      // of vertices with out-edges, and r_i(v) = reset + damp·in_i(v) is
      // recoverable for every vertex from the last message pass — so each
      // round is ONE equi-join + one hash agg instead of the three joins
      // (ranks⋈outDeg, edges⋈shares, verts⟕inbound) of the naive loop.
      // Round 7 measured that naive shape at 78 AQE jobs / 10-16 s for a
      // 16k-vertex graph — pure scheduler overhead; this shape is 2/5 of
      // the stages and checkpoints on a 5-round cadence (plan depth stays
      // bounded; one materialization per 5 rounds, not per 3).
      val outDegT = checkpoint(edges.groupBy(col("src").as("vid"))
        .agg(count(lit(1)).as("__outdeg")))
      def inbound(cur: DataFrame): DataFrame =
        edges.join(cur.select(col("vid").as("src"),
            (col("r") / col("__outdeg")).as("__share")), Seq("src"))
          .groupBy(col("dst").as("vid")).agg(sum("__share").as("__in"))
      // GraphX initializes every rank to 1.0 — on cyclic graphs the init
      // still influences the 10th iterate (decays as ~0.85^t), so parity
      // requires matching it, not starting at resetProb
      val rr = Superstep.rounds(outDegT.withColumn("r", lit(1.0)), numIter - 1, every = 5) {
        (cur, _) => outDegT.join(inbound(cur), Seq("vid"), "left")
          .select(col("vid"), col("__outdeg"),
            (lit(resetProb) + lit(1.0 - resetProb) * coalesce(col("__in"), lit(0.0))).as("r"))
      }
      // the last message pass is checkpointed; the returned frame assembles
      // ranks for EVERY vertex (sinks included) from it, then GraphX-style
      // normalizes the sum to |V|
      val lastIn = checkpoint(inbound(rr))
      val ranks = verts.join(lastIn, Seq("vid"), "left")
        .select(col("id"),
          (lit(resetProb) + lit(1.0 - resetProb) * coalesce(col("__in"), lit(0.0))).as("r"))
      val norm = ranks.agg(sum("r").as("__s"), count(lit(1)).as("__n"))
      ranks.crossJoin(broadcast(norm))
        .select(col("id"), (col("r") * col("__n") / col("__s")).as("rank"))
    }
  }

  /** Personalized PageRank over a seed set — the seed-conditioned
    * relevance feature (recommendation candidates, graph-local expansion
    * of a labeled set): r_{t+1}(v) = reset·seed(v) + damp·Σ_in
    * r_t(u)/outdeg(u), r_0(v) = reset·seed(v). Unlike [[pageRankDF]]
    * there is no |V|-normalization: mass stays localized around the
    * seeds, and non-reachable vertices report 0 — thresholding on the raw
    * score IS the use case.
    *
    * Scale: identical loop shape to [[pageRankDF]] (one equi-join + one
    * map-side-combinable aggregation per round, out-degree vertices only
    * in the iterate, checkpoint every 5 rounds); the seed flag is one
    * extra column riding the iterated frame. `seeds` is a (vid: long)
    * frame — at cluster scale typically small and broadcast by AQE into
    * the out-degree join.
    *
    * Rank mass is carried as DECIMAL(28,12), NOT double: decimal addition
    * is exact, so the per-iteration share sums are independent of
    * partition count and reduce order. The previous double form flipped
    * `round(rank, 5)` between 16- and 32-core runs of the SAME build —
    * the partition-order float hazard [[weightedShortestPathsDF]]
    * documents. The share division is quantized to 12 dp (HALF_UP) once
    * per iteration, deterministically. Returns (id, rank: decimal(28,12)). */
  def personalizedPageRankDF(g: GraphStore, toLong: Column => Column,
                             seeds: DataFrame, numIter: Int = 10,
                             resetProb: Double = 0.15): DataFrame = {
    require(numIter >= 1, s"need numIter >= 1; got $numIter")
    val mass = "decimal(28,12)"
    // BigDecimal.decimal uses the double's SHORTEST decimal rendering, so
    // resetProb = 0.15 becomes exactly 0.15, not 0.1499999... The reset/
    // damp literals deliberately KEEP their natural small precision (2,2):
    // casting them to (28,12) would make every product (28,12)×(28,12),
    // whose ideal scale 24 exceeds precision 38 and gets bounded to SIX
    // decimal places by Spark's decimal rules — a 5e-7 error per round.
    // (2,2)×(28,12) → (31,14) fits, so products stay exact pre-quantize.
    val reset = lit(BigDecimal.decimal(resetProb))
    val damp = lit(BigDecimal.decimal(1.0 - resetProb))
    val zero = lit(BigDecimal(0)).cast(mass)
    withLongIds(g, toLong) { (verts, edges) =>
      val seedT = seeds.select(col("vid").cast("long").as("vid"),
        lit(BigDecimal(1)).cast(mass).as("__sd")).distinct()
      val outDegT = checkpoint(edges.groupBy(col("src").as("vid"))
        .agg(count(lit(1)).as("__outdeg"))
        .join(seedT, Seq("vid"), "left")
        .select(col("vid"), col("__outdeg"),
          coalesce(col("__sd"), zero).as("__sd")))
      def inbound(cur: DataFrame): DataFrame =
        edges.join(cur.select(col("vid").as("src"),
            (col("r") / col("__outdeg")).cast(mass).as("__share")), Seq("src"))
          .groupBy(col("dst").as("vid"))
          .agg(sum("__share").cast(mass).as("__in"))
      val rr = Superstep.rounds(outDegT.withColumn("r", (reset * col("__sd")).cast(mass)),
          numIter - 1, every = 5) {
        (cur, _) => outDegT.join(inbound(cur), Seq("vid"), "left")
          .select(col("vid"), col("__outdeg"), col("__sd"),
            (reset * col("__sd") +
              damp * coalesce(col("__in"), zero)).cast(mass).as("r"))
      }
      verts
        .join(inbound(rr), Seq("vid"), "left")
        .join(seedT, Seq("vid"), "left")
        .select(col("id"),
          (reset * coalesce(col("__sd"), zero) +
            damp * coalesce(col("__in"), zero)).cast(mass).as("rank"))
    }
  }

  /** Build the symmetrized, deduplicated (a, b) long edge table
    * [[labelPropagationDF]] iterates over. Exposed so a session can
    * persist it ONCE next to its graph tables and share it across calls
    * (the build is a union + distinct shuffle that is loop-invariant). */
  def symmetrizedEdges(g: GraphStore, toLong: Column => Column): DataFrame = {
    val dir = g.edges.select(toLong(col("src")).as("a"), toLong(col("dst")).as("b"))
    dir.unionByName(dir.select(col("b").as("a"), col("a").as("b"))).distinct()
  }

  /** Synchronous label propagation (community detection) without the RDD
    * round-trip: `rounds` sync updates in which every vertex adopts the
    * most frequent label among its undirected neighbors, ties broken by
    * the SMALLEST label — fully deterministic, so an SQL oracle replays
    * the unrolled rounds exactly. Isolated vertices keep their own label.
    * Returns (id, label), label being the winning vertex's long id.
    *
    * Scale: per round, one equi-join (symmetrized edges × labels on the
    * source key) and one map-side-combinable min(struct(-count, label))
    * argmax per destination — the IVF-assignment shape, no window over
    * the message stream — with an eager checkpoint per round keeping plan
    * depth constant. Labels and edges co-partition on the vertex key
    * across rounds on a real cluster. */
  def labelPropagationDF(g: GraphStore, toLong: Column => Column,
                         rounds: Int = 3,
                         symEdges: Option[DataFrame] = None): DataFrame = {
    using(longVerts(g, toLong)) { verts =>
      def run(edges: DataFrame) =
        labelPropagation(edges, verts.select(col("vid"), col("vid").as("lbl")), rounds)
          .join(verts, Seq("vid")).select(col("id"), col("lbl").as("label"))
      // caller-provided symmetrized edges are caller-owned (persisted next
      // to the graph tables and reused across calls); the local build is
      // scoped to this call
      symEdges match {
        case Some(edges) => run(edges)
        case None => using(symmetrizedEdges(g, toLong))(run)
      }
    }
  }

  /** The [[labelPropagationDF]] rounds over a symmetrized (a, b) edge
    * table from initial (vid, lbl) labels; returns the (vid, lbl) labels
    * after `rounds` rounds. */
  private[graft] def labelPropagation(sym: DataFrame, init: DataFrame, rounds: Int): DataFrame = {
    require(rounds >= 1, s"need rounds >= 1; got $rounds")
    Superstep.rounds(init, rounds, every = 1) { (labels, _) =>
      val winner = sym.join(labels.select(col("vid").as("a"), col("lbl")), Seq("a"))
        .groupBy(col("b").as("vid"), col("lbl"))
        .agg(count(lit(1)).as("__c"))
        .select(col("vid"), struct((-col("__c")).as("nc"), col("lbl").as("l")).as("__s"))
        .groupBy("vid").agg(min("__s").as("__s"))
        .select(col("vid"), col("__s.l").as("__w"))
      labels
        .join(winner, Seq("vid"), "left")
        .select(col("vid"), coalesce(col("__w"), col("lbl")).as("lbl"))
    }
  }

  /** DataFrame-native landmark shortest paths with GraphX ShortestPaths
    * semantics (the test suite checks the parity): hop counts following
    * edge direction from each vertex toward the landmarks, one row per
    * (vertex, REACHABLE landmark), unreachable pairs absent, landmarks
    * at distance 0 to themselves. Distances
    * propagate dst→src — an edge (s, d) lets s reach every landmark d
    * reaches at one more hop — the exact dual of GraphX's Pregel
    * message flow in ShortestPaths.
    *
    * Scale: per round ONE equi-join (edges × dist table on the
    * destination key) and one map-side-combinable min() per
    * (vertex, landmark); the convergence probe rides the SAME job as
    * the round's checkpoint materialization (count+sum fixpoint: min
    * propagation can only add pairs or lower distances, so an unchanged
    * (row count, Σdist) pair is convergence — the cc probe's shape).
    * Rounds are bounded by the graph diameter; everything is integer,
    * zero FP-parity surface. Dist table and edges co-partition on the
    * vertex key across rounds on a real cluster. */
  def shortestPathsDF(g: GraphStore, toLong: Column => Column,
                      landmarks: Seq[Long], maxIters: Int = 50): DataFrame = {
    require(landmarks.nonEmpty, "need at least one landmark")
    withLongIds(g, toLong) { (verts, edges) =>
      // landmark ids that are not graph vertices seed nothing (GraphX
      // parity: only vertices can carry the initial 0)
      val seed = verts
        .where(col("vid").isin(landmarks: _*))
        .select(col("vid"), col("vid").as("landmark"), lit(0L).as("dist"))
      Superstep.fixpoint(seed, maxIters, "shortest paths") { (dist, _) =>
        val msgs = edges
          .join(dist.select(col("vid").as("dst"), col("landmark"), col("dist")), Seq("dst"))
          .select(col("src").as("vid"), col("landmark"), (col("dist") + 1L).as("dist"))
        dist.unionByName(msgs).groupBy("vid", "landmark").agg(min("dist").as("dist"))
      }(Superstep.unchanged { next =>
        val p = next.agg(count(lit(1)), coalesce(sum("dist"), lit(0L))).first()
        (p.getLong(0), p.getLong(1))
      }).join(verts, Seq("vid")).select(col("id"), col("landmark"), col("dist"))
    }
  }

  /** Co-occurrence pair graph from a (key, item) long table — the
    * market-basket / co-purchase / co-citation edge builder: undirected
    * pairs (a, b), a < b, weighted by the number of DISTINCT keys the two
    * items share, thresholded at `minShared`. This is the one self-join
    * the walk/community/link-prediction family builds its graph from.
    *
    * Scale: the self-join is O(items²) PER KEY, so one hot key (a basket
    * with 10⁴ items) would emit 10⁸ rows from a single group.
    * `maxPerKey` (0 = off) bounds it: each key keeps only its
    * `maxPerKey` smallest DISTINCT items (dense_rank over item asc —
    * duplicate (key, item) rows never eat cap slots) before the join, so
    * per-key fan-out is capped at maxPerKey·(maxPerKey−1)/2. The cap is
    * a RECALL trade where it bites: pairs involving a hot key's larger
    * item ids lose that key's contribution to `w`, and a pair seen only
    * in over-cap keys disappears — same graceful-degradation contract as
    * `maxShingleDf` (Dedup.scala). Keys with ≤ maxPerKey distinct items
    * (every TPC-H order: ≤ 7 lineitems) are bit-identical to the
    * uncapped form — and pay NO window: ONE eager max-fan-out probe per
    * CALL (a map-side-combinable rollup to a driver scalar) decides the
    * plan, so when the cap never binds the returned plan is the plain
    * self-join. Round 15 measured both wrong alternatives at sf0.1: the
    * unconditional window cost every co-purchase consumer 15-70% (quiet
    * r15a vs r13j), and a lazy hot-key anti/semi split was 2-3× WORSE —
    * the distinct-count rollup rode inside the plan, so every downstream
    * evaluation re-paid it and the union blocked exchange reuse. The
    * probe runs once per call regardless of how many times consumers
    * evaluate the result, which is also the 100 TB shape: one cheap
    * pre-pass deciding whether the corpus-wide sort is needed at all.
    *
    * NOTE the probe is an EAGER Spark action at plan-CONSTRUCTION time
    * (ADVICE r15): a streaming `items` cannot be probed (head() on an
    * unstarted stream throws), so streaming inputs take the unconditional
    * dense_rank cap instead — correct on every micro-batch, just never
    * probe-elided. And the cap decision is a SNAPSHOT: a batch source
    * whose data grows between construction and evaluation keeps the
    * construction-time plan (pass `capDecided = Some(true)` to force the
    * cap for mutable sources). Callers issuing MANY coPurchasePairs calls
    * over the SAME corpus should probe once themselves
    * ([[coPurchaseFanoutExceeds]]) and pass the scalar via `capDecided` —
    * the once-per-corpus memo shape (see GraphQueries.coPairs). */
  def coPurchasePairs(items: DataFrame, keyCol: String, itemCol: String,
                      minShared: Long = 2, maxPerKey: Int = 256,
                      capDecided: Option[Boolean] = None): DataFrame = {
    require(minShared >= 1, s"need minShared >= 1; got $minShared")
    val base = items.select(col(keyCol).as("o"), col(itemCol).as("p"))
    val needsCap = maxPerKey > 0 &&
      (if (items.isStreaming) true
       else capDecided.getOrElse(
         coPurchaseFanoutExceeds(items, keyCol, itemCol, maxPerKey)))
    val bounded =
      if (!needsCap) base
      else base
        .withColumn("__r",
          dense_rank().over(Window.partitionBy("o").orderBy(col("p").asc)))
        .where(col("__r") <= maxPerKey).drop("__r")
    bounded.join(bounded.select(col("o"), col("p").as("p2")), Seq("o"))
      .where(col("p") < col("p2"))
      .groupBy(col("p").as("a"), col("p2").as("b"))
      .agg(countDistinct("o").as("w"))
      .where(col("w") >= minShared)
  }

  /** The [[coPurchasePairs]] plan-choice probe as a standalone scalar:
    * does any key's DISTINCT-item fan-out exceed `maxPerKey`? One eager
    * map-side-combinable rollup to the driver (batch inputs only). Run
    * it ONCE per corpus and feed the answer to every `coPurchasePairs`
    * call over that corpus via `capDecided`. */
  def coPurchaseFanoutExceeds(items: DataFrame, keyCol: String,
                              itemCol: String, maxPerKey: Int): Boolean = {
    require(!items.isStreaming,
      "coPurchaseFanoutExceeds needs a batch input; streaming sources take the unconditional cap")
    val r = items.select(col(keyCol).as("o"), col(itemCol).as("p"))
      .groupBy("o").agg(countDistinct("p").as("__n"))
      .agg(max("__n")).head()
    !r.isNullAt(0) && r.getLong(0) > maxPerKey
  }

  /** Deterministic random-walk corpus generation — the DeepWalk/node2vec
    * sequence-sampling step that turns a graph into training sequences for
    * embedding models: one fixed-length walk per distinct source node over
    * a directed edge list. The step choice is the engine-portable md5
    * uniform the sampling operators use (md5(seed|walk|step) mod degree
    * picks a rank in the node's dst-ordered adjacency), so walks are
    * bit-reproducible across engines and runs — no RNG state, no
    * Math.random. Walks that reach a node with no out-edges truncate
    * (inner-join semantics), so symmetrize the edge list for walks that
    * must survive.
    *
    * Scale: the dst-sorted adjacency is grouped ONCE into one array row
    * per node (persisted, node-partitioned — round 16; the former
    * (node, row_number) rank table needed a degree-lookup join AND a
    * rank-fetch join per hop, both of which re-sorted the edge set per
    * hop once it outgrew the broadcast threshold); each of the `walkLen`
    * hops is ONE equi-join on exactly one row per walk — never a
    * degree-expanded candidate set — and the step is an O(1) array
    * index. The walk STATE carries its own path (an array column
    * appended per hop, ≤ walkLen+1 longs), so the corpus is ONE
    * posexplode of the final frame — no per-step union, no per-step
    * replay — and the blocking checkpoint ([[walkLoop]]) is a pure lineage/
    * plan-size knob paid every `WalkCheckpointEvery` hops instead of every
    * hop (walkLen 40 = 5 scheduling barriers, not 40; measured 23 → ~8 s
    * on the len-40 bench arm). Dead ends park: the left joins pass a
    * stuck walk through with its path unchanged, and posexplode emits
    * only the steps it actually took (same truncation semantics as the
    * former inner-join form) — and at every checkpoint barrier the
    * finished walks are SPLIT OUT of the hop frame (a parked walk's path
    * never changes again, so it only needs to rejoin at the final
    * posexplode): on a sink-heavy graph the live frame shrinks
    * geometrically instead of dragging every finished row through dozens
    * of joins (round 13; 81.9 → 76.2 s at len 40 on a 40%-sink 1M-node
    * graph at sf0.1-scale — modest there because per-hop cost is
    * plan/scheduling-bound at 600k walks, but the row-volume term this
    * removes is the one that grows 100× with the graph). The split costs
    * nothing extra — it filters the barrier's already-materialized
    * checkpoint. Returns (walk_id, step, node): the long-form sequence
    * corpus, step 0 = the start node. */
  def randomWalks(edges: DataFrame, walkLen: Int, seed: String = "walk"): DataFrame =
    walkLoop(uniformWalk(edges), walkLen, seed)

  /** [[randomWalks]] with edge-weight-proportional step choice — the
    * weighted-graph walk (node2vec's static-bias case): a neighbor is
    * chosen with probability weight/Σweights, deterministically, by
    * landing the md5 uniform in the neighbor's slot of the per-source
    * cumulative-weight ladder. Weights are positive integers (quantize
    * upstream if fractional) so the ladder is exact in both engines;
    * duplicate (src, dst) edges collapse to their max weight.
    *
    * Scale: the adjacency is ONE dst-sorted (dst, w) array row per node
    * with its ladder total (built once and persisted); each hop is one
    * equi-join on the node and the slot landing is a row-local
    * exact-integer aggregate over the array — no degree-expanded row set,
    * no per-hop edge-set re-sort. Same output shape and truncation
    * semantics as [[randomWalks]]. */
  def weightedRandomWalks(edges: DataFrame, walkLen: Int, seed: String = "wwalk"): DataFrame =
    walkLoop(weightedWalk(edges), walkLen, seed)

  /** PMI over a skip-gram pair table ([[walkSkipGramPairs]] output) —
    * the word2vec-SGNS objective's implicit factorization target
    * (Levy & Goldberg 2014): pmi(c, x) = ln( n(c,x)·N / (n(c·)·n(·x)) )
    * in integer micro-ln units, one ln per distinct PAIR cell over an
    * exact-integer ratio — partition-order free by construction.
    *
    * Scale: two marginal aggregations over the (already aggregated,
    * sparse) pair table plus one 1-row total on a broadcast; the joins
    * key on center/context — AQE skew-splits hub nodes. Returns
    * (center, context, n_pairs, pmi_micro).
    *
    * The math is co-occurrence-generic — [[pairPmi]] is the same function
    * under its domain-neutral name (text collocations feed word bigram
    * tallies through it; center/context types flow through untouched). */
  def walkPairPmi(pairs: DataFrame): DataFrame = pairPmi(pairs)

  /** See [[walkPairPmi]] — PMI over any (center, context, n_pairs)
    * co-occurrence tally. */
  def pairPmi(pairs: DataFrame): DataFrame = {
    val tot = pairs.agg(sum("n_pairs").as("__N"))
    val cTot = pairs.groupBy("center").agg(sum("n_pairs").as("__nc"))
    val xTot = pairs.groupBy("context").agg(sum("n_pairs").as("__nx"))
    pairs.join(cTot, Seq("center")).join(xTot, Seq("context"))
      .crossJoin(broadcast(tot))
      .select(col("center"), col("context"), col("n_pairs"),
        floor(log(col("n_pairs").cast("double") * col("__N") /
            (col("__nc") * col("__nx"))) * 1000000.0 + 0.5)
          .cast("long").as("pmi_micro"))
  }

  /** SECOND-ORDER biased random walks — true node2vec (Grover &
    * Leskovec 2016), completing the walk family: [[randomWalks]] is the
    * uniform case and [[weightedRandomWalks]] the static-bias case; here
    * the step distribution depends on the PREVIOUS node. A candidate
    * next-hop dst from cur is weighted α = 1/p if dst == prev (return),
    * 1 if dst is adjacent to prev (BFS-ish stay-local), 1/q otherwise
    * (DFS-ish venture-out); the first step is uniform (no prev). Weights
    * are caller-quantized INTEGER milli-units (`retMilli` ≈ 1000/p,
    * `outMilli` ≈ 1000/q), so the per-step cumulative ladder, the md5
    * uniform and the slot test are all exact integer arithmetic — no
    * float anywhere, bit-identical in any engine.
    *
    * Scale (round 16 — the r15 100× super-linearity, attributed and
    * fixed): the former hop shape built a DEGREE-EXPANDED candidate
    * frame per hop (adjacency equi-join, (prev, dst) membership join,
    * two walk-keyed windows). That shape was fast exactly as long as
    * the edge table fit the broadcast threshold; the per-hop barrier
    * probe (ScaleProbe n2vhops, SCALE.md) measured the cliff when it
    * stopped fitting: 2–3 MB shuffle write and ~2 s GC per 8-hop
    * barrier at 10×, 625–927 MB and ~50 s GC at 100× — every hop
    * flipped to sort-merge joins, re-sorting the full edge set twice
    * per hop and dragging the path-carrying expanded frame through
    * ~3 exchanges per hop (wall 36 s → 656 s, ~1.8×/datum). The
    * shipped shape is broadcast-INDEPENDENT: the adjacency is grouped
    * ONCE into dst-sorted neighbor arrays (node, nbrs[]) — persisted,
    * hash-partitioned on node — and each hop is ONE equi-join of the
    * one-row-per-walk frontier against it. The (prev, dst) membership
    * test and the cumulative-weight ladder run ROW-LOCALLY: inter =
    * sort_array(array_intersect(nbrs, prev_nbrs)) and two exact-integer
    * aggregate() passes with a merge pointer into `inter` (both arrays
    * dst-sorted, so the pointer advances at most one per element — no
    * O(deg²) membership scan), picking the same md5-uniform slot as the
    * window form, bit-for-bit. Per-hop cost: one shuffle of the slim
    * frontier (the walk's path + prev-neighbor arrays ride one row per
    * walk, never one per candidate), zero edge-set re-sorts, zero
    * windows. A 10⁶-degree hub is one fat adjacency row (~8 MB) read
    * by walks that visit it — segment hubs upstream if that bites.
    * Reference node2vec implementations pay O(Σ deg²) alias-table
    * precomputation instead; this form needs no per-edge-pair state.
    * Dead ends park exactly like [[randomWalks]] (the [[walkLoop]]
    * barrier split). Same truncation semantics and output shape:
    * (walk_id, step, node). */
  def node2vecWalks(edges: DataFrame, walkLen: Int,
                    retMilli: Long = 1000, outMilli: Long = 1000,
                    seed: String = "n2v"): DataFrame =
    walkLoop(node2vecWalk(edges, retMilli, outMilli), walkLen, seed)

  /** One walk family for [[walkLoop]]. `adj` is its (node, …) adjacency,
    * one row per node with out-edges. `state` names the extra frontier
    * columns the family carries, with their values at the start.
    * `hop(joined, u, s)` takes the frontier left-joined to `adj` on node,
    * hop s's md5 uniform `u`, and adds the step `__dst` (null = dead
    * end); it may overwrite the carried state columns. */
  private[graft] final case class WalkFamily(adj: DataFrame, state: Seq[(String, Column)],
                                             hop: (DataFrame, Column, Int) => DataFrame)

  /** Distinct (src, dst) longs grouped into one dst-sorted `__nb` array
    * row per source node. */
  private def sortedAdjacency(edges: DataFrame): DataFrame =
    edges.select(col("src").cast("long").as("src"), col("dst").cast("long").as("dst"))
      .distinct()
      .groupBy(col("src").as("node"))
      .agg(sort_array(collect_list(col("dst"))).as("__nb"))

  /** [[randomWalks]]: the step is the md5-uniform rank in the node's
    * sorted neighbor array. */
  private[graft] def uniformWalk(edges: DataFrame): WalkFamily =
    WalkFamily(sortedAdjacency(edges), Nil, (j, u, _) =>
      j.withColumn("__dst",
        try_element_at(col("__nb"), (u % array_size(col("__nb")) + 1).cast("int"))))

  /** [[weightedRandomWalks]]: one dst-sorted (dst, w) struct array per
    * node with the ladder total precomputed; the slot landing is a
    * row-local exact-integer aggregate over the sorted array (tot NULL →
    * null pick → dead; otherwise exactly one slot contains the pick). */
  private[graft] def weightedWalk(edges: DataFrame): WalkFamily = {
    val adj = edges.select(col("src").cast("long").as("src"),
        col("dst").cast("long").as("dst"), col("weight").cast("long").as("w"))
      .where(col("w") > 0)
      .groupBy("src", "dst").agg(max("w").as("w"))
      .groupBy(col("src").as("node"))
      .agg(sort_array(collect_list(struct(col("dst"), col("w")))).as("__nbw"))
      .withColumn("__tot", aggregate(col("__nbw"), lit(0L),
        (acc, x) => acc + x.getField("w")))
    WalkFamily(adj, Nil, (j, u, _) => {
      val pick = u % col("__tot")
      j.withColumn("__dst", aggregate(col("__nbw"),
        struct(lit(0L).as("cum"), lit(-1L).as("ch")),
        (acc, x) => struct(
          (acc.getField("cum") + x.getField("w")).as("cum"),
          when(acc.getField("ch") >= 0, acc.getField("ch"))
            .when(pick < acc.getField("cum") + x.getField("w"), x.getField("dst"))
            .otherwise(lit(-1L)).as("ch")),
        acc => when(acc.getField("ch") >= 0, acc.getField("ch"))))
    })
  }

  /** [[node2vecWalks]]: the frontier carries the previous node and its
    * neighbor array (`prev`, `__pn`); the bias ladder runs row-locally
    * with a merge pointer into sorted nbrs ∩ prev-nbrs. */
  private[graft] def node2vecWalk(edges: DataFrame, retMilli: Long, outMilli: Long): WalkFamily = {
    require(retMilli >= 1 && outMilli >= 1,
      s"need positive milli-weights; got retMilli=$retMilli outMilli=$outMilli")
    WalkFamily(sortedAdjacency(edges),
      Seq("prev" -> col("node"), "__pn" -> array().cast("array<bigint>")), (j, u, s) => {
        // ladder weight of candidate d given the merge pointer ip into
        // __inter (sorted nbrs ∩ prev-nbrs): the d(prev, dst) = 1 test
        // without a membership join. First step is uniform (no prev).
        def wOf(d: Column, ip: Column): Column =
          if (s == 1) lit(1000L)
          else when(d === col("prev"), lit(retMilli))
            .when(ip < array_size(col("__inter")) &&
              try_element_at(col("__inter"), ip + lit(1)) === d, lit(1000L))
            .otherwise(lit(outMilli))
        // the pointer consumes its inter element whenever it matches d —
        // also under the d == prev precedence, or it would desync
        def ipStep(d: Column, ip: Column): Column =
          if (s == 1) ip
          else ip + when(ip < array_size(col("__inter")) &&
            try_element_at(col("__inter"), ip + lit(1)) === d, lit(1)).otherwise(lit(0))
        val pick = u % col("__tot")
        j.withColumn("__inter",
            if (s == 1) array().cast("array<bigint>")
            else sort_array(array_intersect(col("__nb"), col("__pn"))))
          // tot in CLOSED FORM (no ladder scan): all candidates default
          // to outMilli; inter members get 1000 (delta 1000−out); if prev
          // is itself a candidate it gets retMilli instead of whichever
          // category it fell in — exactly Σ wOf, null for dead walks
          .withColumn("__tot",
            if (s == 1) lit(1000L) * array_size(col("__nb")).cast("long")
            else lit(outMilli) * array_size(col("__nb")).cast("long") +
              (lit(1000L) - lit(outMilli)) * array_size(col("__inter")).cast("long") +
              when(array_contains(col("__nb"), col("prev")),
                lit(retMilli) - when(array_contains(col("__inter"), col("prev")),
                  lit(1000L)).otherwise(lit(outMilli)))
                .otherwise(lit(0L)))
          // exact integer slots partition [0, tot): the first element
          // whose running total exceeds pick is the step (same ladder as
          // the former window form, bit-for-bit); dead walks (null __nb)
          // carry null through every derived column
          .withColumn("__dst", aggregate(col("__nb"),
            struct(lit(0L).as("cum"), lit(0).as("ip"), lit(-1L).as("ch")),
            (acc, d) => struct(
              (acc.getField("cum") + wOf(d, acc.getField("ip"))).as("cum"),
              ipStep(d, acc.getField("ip")).as("ip"),
              when(acc.getField("ch") >= 0, acc.getField("ch"))
                .when(pick < acc.getField("cum") + wOf(d, acc.getField("ip")), d)
                .otherwise(lit(-1L)).as("ch")),
            acc => when(acc.getField("ch") >= 0, acc.getField("ch"))))
          .withColumn("prev", col("node"))
          .withColumn("__pn", when(col("__dst").isNotNull, col("__nb")).otherwise(col("__pn")))
      })
  }

  /** The frontier a walk family starts from: one walk per adjacency node,
    * walk_id = the start node, its path holding just that node. */
  private[graft] def walkStart(w: WalkFamily): DataFrame =
    w.adj.select(Seq(col("node").as("walk_id"), col("node"), array(col("node")).as("__path")) ++
      w.state.map { case (name, c) => c.as(name) }: _*)

  /** Hop `s` of a walk family: one left equi-join of the frontier with
    * the adjacency, the family's step at the md5 uniform
    * md5(seed|walk_id|s), and the path carry. A dead end parks in place —
    * node and path unchanged, `__dead` set. */
  private[graft] def walkHop(w: WalkFamily, seed: String)(cur: DataFrame, s: Int): DataFrame = {
    val u = conv(substring(md5(concat_ws("|", lit(seed),
        col("walk_id").cast("string"), lit(s.toString))), 1, 12), 16, 10).cast("long")
    w.hop(cur.join(w.adj, Seq("node"), "left"), u, s)
      .select(Seq(col("walk_id"),
          coalesce(col("__dst"), col("node")).as("node"),
          when(col("__dst").isNotNull, concat(col("__path"), array(col("__dst"))))
            .otherwise(col("__path")).as("__path")) ++
        w.state.map { case (name, _) => col(name) } :+
        col("__dst").isNull.as("__dead"): _*)
  }

  /** The walk loop the three walk generators share: `walkLen` hops of
    * [[walkHop]] over a persisted adjacency, a checkpoint barrier every
    * `WalkCheckpointEvery` hops and at the last ([[Superstep.rounds]]),
    * finished walks split out at each barrier, and one posexplode of the
    * carried paths into (walk_id, step, node). `onBarrier(hop, live,
    * parked)` observes each barrier's live frontier and newly parked
    * walks — both already materialized, so inspecting them replays no hop
    * joins (the scale probes' per-barrier hook). */
  private[graft] def walkLoop(w: WalkFamily, walkLen: Int, seed: String,
                              onBarrier: (Int, DataFrame, DataFrame) => Unit =
                                (_, _, _) => ()): DataFrame = {
    require(walkLen >= 1, s"need walkLen >= 1; got $walkLen")
    using(w.adj) { adj =>
      val fam = w.copy(adj = adj)
      val start = walkStart(fam)
      // parked = finished-walk frames split out at checkpoint barriers;
      // each is a narrow filter over an already-materialized checkpoint,
      // so re-reading it at assembly replays no hop joins
      var parked = List.empty[DataFrame]
      val live = Superstep.rounds(start, walkLen, WalkCheckpointEvery, barrier = (settled, s) => {
        parked ::= settled.where(col("__dead")).select("walk_id", "__path")
        val live = settled.where(!col("__dead")).select(start.columns.map(col): _*)
        onBarrier(s, live, parked.head)
        live
      })(walkHop(fam, seed))
      parked.foldLeft(live.select("walk_id", "__path"))(_ unionByName _)
        .select(col("walk_id"), posexplode(col("__path")))
        .select(col("walk_id"), col("pos").cast("long").as("step"),
          col("col").as("node"))
    }
  }

  /** Deterministic SGNS negative-sampling table over a skip-gram pair
    * tally ([[walkSkipGramPairs]] output) — the third artifact a
    * DeepWalk/word2vec training feed needs after pairs and PMI: for every
    * (center, context) pair, `k` noise nodes drawn from the unigram^0.75
    * distribution (the word2vec noise exponent) over the CONTEXT
    * marginal, deterministically — the engine-portable md5 uniform the
    * walk/sampling operators use, landed in a cumulative integer-weight
    * ladder (the [[weightedRandomWalks]] slot idea, corpus-global instead
    * of per-source).
    *
    * Portability of the 0.75 power: nx^0.75 is computed ONLY through
    * IEEE-754 correctly-rounded operations — sqrt(sqrt(nx)·sqrt(nx)·
    * sqrt(nx)) with fixed association, never libm pow (whose last-ulp
    * behavior differs across runtimes) — then quantized to integer
    * milli-units, so two engines build bit-identical ladders from the
    * same counts and an oracle replays slot membership exactly.
    *
    * Scale: the noise table is one marginal aggregation of the (already
    * aggregated, sparse) pair table; its ladder prefix sum is TWO-PHASE —
    * a parallel running-sum window keyed by `context DIV 1024` plus a
    * buckets-only offset window (vocabulary/1024 rows) — never a
    * vocabulary-wide single-partition window. Slot lookup reuses
    * [[graft.pipeline.TemporalJoins.rangeJoinBinned]]: picks equi-join
    * ladder intervals on a bin key (an interval spans ≤ one context's
    * weight ≪ binWidth·4096, so the guard never fires) — no nested-loop
    * range probe. The one collect is the 1-row ladder total (the modulus
    * and bin width). Returns (center, context, neg_rank, neg_node) — k
    * rows per input pair; a draw may equal center or context (pure noise
    * — downstream losses mask those terms, and deterministic redraw loops
    * would not be engine-replayable). */
  def sgnsNegatives(pairs: DataFrame, k: Int, seed: String = "neg"): DataFrame = {
    require(k >= 1, s"need k >= 1; got $k")
    // vocabulary-sized, consumed by the total AND the ladder: checkpoint
    // once instead of re-aggregating the pair table per consumer
    val wt = checkpoint(pairs.groupBy("context").agg(sum("n_pairs").as("__nx"))
      .select(col("context"),
        floor(sqrt(sqrt(col("__nx")) * sqrt(col("__nx")) * sqrt(col("__nx")))
          * lit(1000.0) + lit(0.5)).cast("long").as("__w")))
    val totRow = wt.agg(sum("__w"), max("__w"), count(lit(1))).first()
    require(!totRow.isNullAt(0), "sgnsNegatives: empty pair table")
    val tot = totRow.getLong(0)
    val (wMax, nCtx) = (totRow.getLong(1), totRow.getLong(2))
    val bk = wt.withColumn("__bk", expr("context DIV 1024"))
    val within = bk.withColumn("__cum",
      sum("__w").over(Window.partitionBy("__bk").orderBy("context")))
    val off = bk.groupBy("__bk").agg(sum("__w").as("__bw"))
      .withColumn("__off", sum("__bw").over(Window.orderBy("__bk")) - col("__bw"))
    // inclusive integer intervals [lo, hi-1] ⟺ [lo, hi) — picks and
    // bounds are integers, so BETWEEN semantics match half-open slots
    val ladder = within.join(off.select("__bk", "__off"), Seq("__bk"))
      .select(col("context").as("neg_node"),
        (col("__off") + col("__cum") - col("__w")).as("__lo"),
        (col("__off") + col("__cum") - lit(1L)).as("__hi"))
    val picks = pairs.select(col("center"), col("context"),
        explode(sequence(lit(1), lit(k))).as("neg_rank"))
      .withColumn("__pick",
        conv(substring(md5(concat_ws("|", lit(seed),
          col("center").cast("string"), col("context").cast("string"),
          col("neg_rank").cast("string"))), 1, 12), 16, 10)
          .cast("long") % lit(tot))
    // binWidth tracks the MEAN interval (≈8 ladder slots per bin), not a
    // fixed bin count: tot/1024 made per-bin density — picks × slots per
    // bin — grow with scale and the within-bin filter quadratic (measured
    // 1.35/8.1/121 s at 1×/10×/100× before; linear after). The w_max/4000
    // clamp keeps the widest hub interval under rangeJoinBinned's
    // 4096-bin replication guard whatever the skew.
    val binW = math.max(8L * tot / math.max(1L, nCtx), wMax / 4000L + 1L)
    graft.pipeline.TemporalJoins.rangeJoinBinned(picks, ladder,
        "__pick", "__lo", "__hi", binWidth = binW)
      .select(col("center"), col("context"),
        col("neg_rank").cast("long").as("neg_rank"), col("neg_node"))
  }

  /** Deterministic frequent-node subsampling of a walk corpus — the
    * word2vec pre-pass that completes the DeepWalk training feed
    * (sequences → subsample → pairs → PMI → negatives): each node
    * OCCURRENCE survives with probability min(1, sqrt(t / f(node)))
    * where f is the node's corpus frequency and `tMicro` is the classic
    * word2vec threshold t in micro-units (word2vec's -sample flag;
    * hubs get thinned toward sqrt, rare nodes pass untouched), then each
    * walk's surviving steps are COMPACTED (word2vec drops-then-joins, so
    * skip-gram windows span the removed positions).
    *
    * Deterministic and engine-portable like every sampler here: the
    * occurrence's md5-48-bit uniform is compared against
    * floor(sqrt((tMicro·N)/(1e6·n))·2^48) — division, multiply and sqrt
    * are IEEE correctly-rounded with pinned association, so both engines
    * compute the identical keep threshold, and the oracle replays every
    * keep/drop decision.
    *
    * Scale: one map-side-combinable node-frequency aggregation + a
    * broadcast 1-row total; the keep test is a narrow projection; the
    * step compaction is a per-walk window (walk-length bounded, the
    * adjacency-ranking class). Returns (walk_id, step, node) with dense
    * renumbered steps. */
  def subsampleFrequent(walks: DataFrame, tMicro: Long,
                        seed: String = "sub"): DataFrame = {
    require(tMicro >= 1, s"need tMicro >= 1; got $tMicro")
    val freq = walks.groupBy("node").agg(count(lit(1)).as("__nf"))
    val tot = walks.agg(count(lit(1)).as("__ntot"))
    val thresh = // floor(sqrt((t·N)/(1e6·n)) · 2^48); ≥ 2^48 ⟺ always keep
      floor(sqrt((lit(tMicro.toDouble) * col("__ntot")) / (lit(1000000.0) * col("__nf")))
        * lit(281474976710656.0))
    val kept = walks
      .join(freq, Seq("node"))
      .crossJoin(broadcast(tot))
      .where(conv(substring(md5(concat_ws("|", lit(seed),
          col("walk_id").cast("string"), col("step").cast("string"))), 1, 12), 16, 10)
        .cast("long") < thresh)
    kept.select(col("walk_id"), col("step"), col("node"))
      .withColumn("__rn", row_number().over(
        Window.partitionBy("walk_id").orderBy("step")))
      .select(col("walk_id"), (col("__rn") - 1).cast("long").as("step"), col("node"))
  }

  /** Skip-gram training pairs from a walk corpus ([[randomWalks]] output):
    * every (center, context) node pair co-occurring within `window` steps
    * of the same walk, tallied — the word2vec-over-walks batch feed.
    *
    * The 2·window·|walk rows| bound is STRUCTURAL: each center row
    * explodes into its ±window context step offsets (a narrow 2·window
    * fan-out) and equi-joins the corpus on `(walk_id, step)` — one
    * matching context row per offset, since a walk has one node per step.
    * A walk_id-only join with the window test as a residual would pay
    * (walkLen+1)² comparisons per walk before filtering — 10-20× the CPU
    * at DeepWalk-typical walkLen 40-80. Pairs aggregate map-side into
    * (center, context) counts. */
  def walkSkipGramPairs(walks: DataFrame, window: Int = 2): DataFrame = {
    require(window >= 1, s"need window >= 1; got $window")
    val offsets = array(((-window to window).filter(_ != 0).map(o => lit(o.toLong))): _*)
    val a = walks.select(col("walk_id"), col("step"), col("node").as("center"))
      .select(col("walk_id"), col("step"), col("center"),
        explode(offsets).as("__off"))
      .select(col("walk_id"), col("center"), (col("step") + col("__off")).as("step"))
    val b = walks.select(col("walk_id"), col("step"), col("node").as("context"))
    a.join(b, Seq("walk_id", "step"))
      .groupBy("center", "context")
      .agg(count(lit(1)).as("n_pairs"))
  }

  /** HITS hubs & authorities (Kleinberg) over the directed edge set,
    * UNNORMALIZED fixed-iteration form: a₀ ≡ 1, then per round
    * h(u) = Σ_{u→v} a(v) and a(v) = Σ_{u→v} h(u). Classic HITS rescales
    * each vector per round, but rescaling is a positive scalar — rankings
    * and score RATIOS after a fixed iteration count are identical — so
    * the iterate carries exact LONG path-counts instead: partition-order
    * free, engine-portable, no decimal-division scale rules to replay.
    * (The magnitude grows like (max component eigenvalue)^iters — callers
    * wanting [0,1] scores divide by the max once at the end. Growth past
    * Long range FAILS LOUDLY: sums are overflow-checked via try_sum and
    * any overflow raises ArithmeticException naming the round — wrapped
    * rankings can never be returned.)
    *
    * Scale: each half-round is one equi-join of the edge table with the
    * (vid, score) frame plus one map-side-combinable aggregation keyed by
    * the vertex — the [[pageRankDF]] loop shape; scores never ride wider
    * than (long, long). Vertices with no out-edges (resp. in-edges)
    * report hub (resp. auth) 0. Returns (id, hub, auth). */
  def hitsDF(g: GraphStore, toLong: Column => Column, numIter: Int = 2): DataFrame = {
    require(numIter >= 1, s"need numIter >= 1; got $numIter")
    withLongIds(g, toLong) { (verts, edges) =>
      // Overflow guard: iterates grow like λ_max^numIter, and a plain
      // sum(Long) would WRAP silently and return wrong rankings. try_sum
      // yields NULL on Long overflow instead; scores entering the sum are
      // never null (inner join on checkpointed non-null iterates), so a
      // null result IS an overflow — checked on each (vertex-sized,
      // already-checkpointed) iterate and surfaced as an error naming the
      // round, never as wrapped scores. Cost: one limit-1 scan of a
      // v-row cached frame per half-round.
      def guarded(scores: DataFrame, c: String, round: Int): DataFrame = {
        val out = checkpoint(scores)
        if (out.where(col(c).isNull).limit(1).count() > 0)
          throw new ArithmeticException(
            s"hitsDF: Long overflow in '$c' at iteration $round (scores " +
            s"grow ~ λ_max^numIter); lower numIter=$numIter or rescale")
        out
      }
      // round 1 folds a₀ ≡ 1 into a plain degree count
      var h = checkpoint(edges.groupBy(col("src").as("vid"))
        .agg(count(lit(1)).as("h")))
      var a = guarded(edges.join(h.select(col("vid").as("src"), col("h")), Seq("src"))
        .groupBy(col("dst").as("vid")).agg(try_sum(col("h")).as("a")), "a", 1)
      for (i <- 2 to numIter) {
        h = guarded(edges.join(a.select(col("vid").as("dst"), col("a")), Seq("dst"))
          .groupBy(col("src").as("vid")).agg(try_sum(col("a")).as("h")), "h", i)
        a = guarded(edges.join(h.select(col("vid").as("src"), col("h")), Seq("src"))
          .groupBy(col("dst").as("vid")).agg(try_sum(col("h")).as("a")), "a", i)
      }
      verts
        .join(h, Seq("vid"), "left")
        .join(a, Seq("vid"), "left")
        .select(col("id"), coalesce(col("h"), lit(0L)).as("hub"),
          coalesce(col("a"), lit(0L)).as("auth"))
    }
  }

  /** Adamic–Adar link prediction over an undirected pair graph (a, b):
    * for every NON-adjacent pair (u, v) with at least one common neighbor,
    * score Σ_{z ∈ N(u)∩N(v)} 1/ln(deg z) — common neighbors count, rare
    * ones count more. The top `topK` scored pairs are the predicted links
    * (graph completion / recommendation candidates over the co-occurrence
    * graph).
    *
    * Determinism: one ln per VERTEX cell, quantized to integer micro-units
    * (floor(10⁶/ln d + 0.5)) before the per-pair sum — exact long
    * arithmetic, partition-order free; ties break by (u, v).
    *
    * Scale: the wedge join's fan-out is Σ_z deg(z)², so megahub centers
    * are excluded by `maxDegree` BEFORE pairs form (standard practice —
    * a hub's 1/ln(deg) contribution is near-noise anyway, and the cap
    * makes the bound structural: ≤ maxDegree·|E| wedge rows). Isolated
    * deg-1 vertices can never be common neighbors and are dropped with
    * the same filter. The final top-k is TakeOrdered (per-partition
    * heaps), never a full sort. Returns (u, v, n_common, aa_micro). */
  def adamicAdar(pairs: DataFrame, topK: Int, maxDegree: Int = 1000): DataFrame = {
    require(topK > 0, s"need topK > 0; got $topK")
    require(maxDegree >= 2, s"need maxDegree >= 2; got $maxDegree")
    using(canonicalPairs(pairs)) { canon =>
      // adjacency rows of capped-degree centers feed BOTH wedge sides —
      // persist once, the self-join otherwise recomputes the deg join per
      // side (identical sibling subtrees, same trap as the verify sets)
      using(adamicAdarAdjacency(canon, maxDegree), fill = true) { adj =>
        checkpoint(adamicAdarTopK(canon, adj, topK))
      }
    }
  }

  /** The undirected simple-graph form of an (a, b) pair table: ids cast
    * to long, self-loops dropped, one (a < b) row per edge. */
  private[graft] def canonicalPairs(pairs: DataFrame): DataFrame =
    pairs.select(col("a").cast("long").as("u"), col("b").cast("long").as("v"))
      .where(col("u") =!= col("v"))
      .select(least(col("u"), col("v")).as("a"), greatest(col("u"), col("v")).as("b"))
      .distinct()

  /** [[adamicAdar]]'s wedge-center adjacency over canonical pairs: (z, n,
    * __w) for every neighbor n of a center z with 2 ≤ deg(z) ≤ maxDegree,
    * __w = z's quantized 1/ln(deg z) weight. */
  private[graft] def adamicAdarAdjacency(canon: DataFrame, maxDegree: Int): DataFrame = {
    val sym = canon.unionByName(canon.select(col("b").as("a"), col("a").as("b")))
    val zw = sym.groupBy(col("a").as("z")).agg(count(lit(1)).as("__deg"))
      .where(col("__deg") >= 2 && col("__deg") <= maxDegree)
      .select(col("z"),
        floor(lit(1000000.0) / log(col("__deg").cast("double")) + 0.5)
          .cast("long").as("__w"))
    sym.select(col("a").as("z"), col("b").as("n")).join(zw, Seq("z"))
  }

  /** [[adamicAdar]]'s live body: the wedge self-join over `adj`, the
    * adjacency anti-join against `canon`, and the top-`topK` selection. */
  private[graft] def adamicAdarTopK(canon: DataFrame, adj: DataFrame, topK: Int): DataFrame = {
    val scored = adj.select(col("z"), col("n").as("u"), col("__w"))
      .join(adj.select(col("z"), col("n").as("v")), Seq("z"))
      .where(col("u") < col("v"))
      .groupBy("u", "v")
      .agg(count(lit(1)).as("n_common"), sum("__w").as("aa_micro"))
    scored
      .join(canon, scored("u") === canon("a") && scored("v") === canon("b"), "left_anti")
      .orderBy(desc("aa_micro"), col("u").asc, col("v").asc)
      .limit(topK)
  }

  /** Vertices of the k-core: the maximal induced subgraph in which every
    * vertex has UNDIRECTED degree ≥ k, computed by iterative peeling —
    * each round drops vertices whose degree in the surviving subgraph is
    * below k, until a fixpoint. Takes an (a, b) pair table (any numeric
    * ids — the [[graft.pipeline.ConnectedComponents.labels]] input
    * contract); returns (vid, degree) for surviving vertices, degree
    * being the within-core degree. A standard corpus/graph-quality
    * primitive (the dense backbone that survives after stripping
    * tendrils).
    *
    * Scale: per round, one map-side-combinable degree aggregation over
    * the surviving symmetrized edge list + two semi-joins to restrict
    * edges to survivors; the survivor count IS the convergence probe
    * (peeling is monotone — an unchanged count is the fixpoint), fused
    * with the round's materialization. Rounds are bounded by the peeling
    * depth (the graph's degeneracy ordering length), small for the
    * heavy-tailed graphs where k-core matters; each round's state is one
    * (vid) column. */
  def kCore(pairs: DataFrame, k: Int, maxIters: Int = 100): DataFrame = {
    require(k >= 1, s"need k >= 1; got $k")
    val canon = canonicalPairs(pairs)
    using(canon.unionByName(canon.select(col("b").as("a"), col("a").as("b")))) { sym =>
      Superstep.fixpoint(sym.select(col("a").as("vid")).distinct(), maxIters,
          "k-core peeling") { (live, _) =>
        sym
          .join(live.select(col("vid").as("a")), Seq("a"), "left_semi")
          .join(live.select(col("vid").as("b")), Seq("b"), "left_semi")
          .groupBy(col("a").as("vid")).agg(count(lit(1)).as("__deg"))
          .where(col("__deg") >= k)
      }(Superstep.unchanged(_.count())).select(col("vid"), col("__deg").as("degree"))
    }
  }

  /** [[kCore]] over a [[GraphStore]]: canonicalized undirected edges from
    * the store, result mapped back to string vertex ids. */
  def kCoreDF(g: GraphStore, toLong: Column => Column, k: Int,
              maxIters: Int = 100): DataFrame = {
    kCore(g.edges.select(toLong(col("src")).as("a"), toLong(col("dst")).as("b")),
        k, maxIters)
      .join(longVerts(g, toLong), Seq("vid"))
      .select(col("id"), col("degree"))
  }

  /** Weighted landmark shortest paths by min-plus (Bellman-Ford)
    * iteration over an explicit weighted edge table — the algorithmic
    * realization of the [[weightedEdges]] surface (the reference's
    * WeightedGraph trait declares weights but ships no algorithm over
    * them; this composes: `weightedShortestPathsDF(weightedEdges(g)
    * .select(toLong(col("src")), toLong(col("dst")), col("weight")),
    * …)`). Input columns (src, dst, weight — any numeric); returns
    * (vid, landmark, dist) for every vertex that reaches a landmark
    * following edge direction, landmarks at 0 to themselves,
    * unreachable pairs absent — [[shortestPathsDF]]'s contract with
    * hop counts generalized to weights.
    *
    * Distances are carried as DECIMAL(28, 6) internally: decimal
    * addition is exact and order-independent, so the fused count+sum
    * convergence probe (the [[shortestPathsDF]] shape) cannot be fooled
    * by float reassociation across shuffles, and ties resolve
    * identically on any partitioning. Negative weights are accepted
    * (min-plus handles them while no negative cycle exists); a negative
    * cycle keeps lowering the sum forever and trips the `maxIters`
    * require instead of looping. Per round: one equi-join on the
    * destination key + one map-side-combinable min — one scheduler job,
    * rounds bounded by the longest shortest path's edge count. */
  def weightedShortestPathsDF(edges: DataFrame, landmarks: Seq[Long],
                              maxIters: Int = 50): DataFrame = {
    require(landmarks.nonEmpty, "need at least one landmark")
    using(edges.select(col("src").cast("long"), col("dst").cast("long"),
        col("weight").cast("decimal(28,6)").as("weight"))) { e =>
      val spark = edges.sparkSession
      import spark.implicits._
      val seed = landmarks.toDF("vid")
        .select(col("vid"), col("vid").as("landmark"),
          lit(BigDecimal(0)).cast("decimal(28,6)").as("dist"))
      Superstep.fixpoint(seed, maxIters, "weighted shortest paths (negative cycle?)") {
        (dist, _) =>
          val msgs = e
            .join(dist.select(col("vid").as("dst"), col("landmark"), col("dist")), Seq("dst"))
            .select(col("src").as("vid"), col("landmark"),
              (col("dist") + col("weight")).cast("decimal(28,6)").as("dist"))
          dist.unionByName(msgs).groupBy("vid", "landmark").agg(min("dist").as("dist"))
      }(Superstep.unchanged { next =>
        val p = next.agg(count(lit(1)), coalesce(sum("dist"), lit(BigDecimal(0)))).first()
        (p.getLong(0), BigDecimal(p.getDecimal(1)))
      }).select(col("vid"), col("landmark"), col("dist").cast("double").as("dist"))
    }
  }

  /** DataFrame-native per-vertex triangle count with GraphX
    * triangleCount semantics (the test suite checks the parity):
    * the graph is treated as undirected simple (duplicate edges merged,
    * self-loops dropped), and EVERY vertex is reported, 0 when
    * triangle-free.
    *
    * Scale: the classic degree-ordered orientation bounds the wedge
    * join — every canonical edge points from its lower (degree, id)
    * endpoint to its higher one, so post-orientation out-degree is
    * O(√m) on ANY graph (a vertex with out-degree k has k higher-degree
    * neighbors, each of degree ≥ k, so k² ≤ 2m) and the wedge
    * self-join's fan-out is Σ outdeg² ≤ O(m^1.5) — the compact-forward
    * bound — instead of Σ deg², which a skewed hub graph turns
    * quadratic. Each triangle is enumerated exactly once (apex = its
    * orientation-minimal corner; the closure probe keys on the oriented
    * third edge, so of the two wedge orderings only one closes). All
    * joins are equi-joins on vertex keys; corner counts are a
    * map-side-combinable sum over the three exploded corners. */
  def triangleCountDF(g: GraphStore, toLong: Column => Column): DataFrame = {
    using(canonicalPairs(
        g.edges.select(toLong(col("src")).as("a"), toLong(col("dst")).as("b")))) { canon =>
      val (corners, _) = triangleCorners(canon)
      longVerts(g, toLong).join(corners, Seq("vid"), "left")
        .select(col("id"), coalesce(col("__n"), lit(0L)).as("triangles"))
    }
  }

  /** Leiden-style partition refinement (the core fix of Traag et al.
    * 2019, arXiv:1810.08473 — "From Louvain to Leiden"): local-move
    * community assignment can leave a community internally DISCONNECTED
    * (members that connect only through vertices that later moved away).
    * Refinement splits every community into its connected components
    * within the community-induced subgraph; each fragment relabels to
    * its minimum member vid, vertices with no intra-community edge
    * become singletons. Guarantees the well-formedness property Leiden
    * is named for; compose as louvain → refineCommunities (and iterate,
    * if desired — refined labels are a valid louvain input).
    *
    * Scale: one label decoration of the edge list (vertex-keyed
    * equi-joins), the shared min-propagation cc fixpoint over
    * intra-community edges ONLY (the inter-community edges — usually
    * most of a real graph's — never enter the iteration), one left join
    * for isolated members. Returns (vid, label). */
  def refineCommunities(labels: DataFrame, symEdges: DataFrame): DataFrame = {
    val lab = checkpoint(labels.select(col("vid"), col("label")))
    val frags = graft.pipeline.ConnectedComponents.labels(
      intraCommunity(symEdges, lab).select(col("a"), col("b")))
    lab.join(frags.select(col("id").as("vid"), col("cluster")), Seq("vid"), "left")
      .select(col("vid"), coalesce(col("cluster"), col("vid")).as("label"))
  }

  /** The per-round enumeration core of [[kTruss]], exposed for the skew
    * spec: re-orients a canonical (a < b) surviving-edge set low→high by
    * (CURRENT degree, id) and emits the apex wedges. Returns (oriented
    * s→t edges, wedge rows (s, t1, t2)). Wedge fan-out is
    * Σ C(outdeg⁺, 2) = O(m^1.5) regardless of hub skew — a star emits
    * ZERO wedges (every leaf has outdeg 1, the hub outdeg 0), where the
    * id-oriented form paid C(deg_hub, 2) whenever the hub drew the low
    * id. */
  private[graft] def trussWedges(e: DataFrame): (DataFrame, DataFrame) = {
    // __kt lets the wedge join order (t1, t2) without a second degree
    // lookup. Materialized once — it feeds three scans.
    val oriented = checkpoint(orientByDegree(e)._1)
    val wedges = oriented.select(col("s"), col("t").as("t1"), col("__kt").as("__k1"))
      .join(oriented.select(col("s"), col("t").as("t2"), col("__kt").as("__k2")), Seq("s"))
      .where(col("__k1") < col("__k2"))
      .select(col("s"), col("t1"), col("t2"))
    (oriented, wedges)
  }

  /** k-truss of an undirected edge table (a, b) — the EDGE-cohesion
    * analog of [[kCore]] and the strongest of the classic cohesion
    * filters: the maximal subgraph in which every edge closes at least
    * k−2 triangles WITHIN the subgraph. Synchronous peel: per round,
    * per-edge support is counted over the surviving edges and every edge
    * below k−2 drops, including triangle-free edges; idempotent at the
    * fixpoint, so a fixed oracle unroll past convergence replays the run
    * exactly (the kCore argument). Returns (a, b, support), a < b.
    *
    * Scale: per round the surviving edges are RE-ORIENTED low→high by
    * (current degree, id) — the [[triangleCorners]] trick — so wedges
    * apex at each edge's LOWEST-degree endpoint and the round's wedge
    * fan-out is Σ C(outdeg⁺, 2) = O(m^1.5) REGARDLESS of skew (the
    * id-oriented form this replaced paid C(deg, 2) at any low-id hub —
    * one 10⁴-degree hub emitted ~5·10⁷ wedge rows per round, every
    * round; VERDICT r14 #1). Each triangle is enumerated exactly once
    * (apex = min endpoint, closing edge oriented t1→t2) and credits all
    * three edges in canonical least/greatest form, so support totals are
    * bit-identical to the canonical a<b<c enumeration. Everything is
    * vertex-keyed equi-joins + one map-side-combinable rollup; rounds
    * shrink the edge set monotonically. */
  def kTruss(pairs: DataFrame, k: Int, maxRounds: Int = 50): DataFrame = {
    require(k >= 3, s"need k >= 3; got $k")
    Superstep.fixpoint(canonicalPairs(pairs), maxRounds, "k-truss peeling") { (e, _) =>
      val (oriented, wedges) = trussWedges(e.select("a", "b"))
      // the closing edge is oriented exactly t1→t2 (both endpoints above
      // the apex, t1 below t2), so one semi-probe admits each triangle once
      val tri = wedges.join(
        oriented.select(col("s").as("t1"), col("t").as("t2")), Seq("t1", "t2"), "left_semi")
      tri.select(least(col("s"), col("t1")).as("a"), greatest(col("s"), col("t1")).as("b"))
        .unionByName(tri.select(least(col("s"), col("t2")).as("a"), greatest(col("s"), col("t2")).as("b")))
        .unionByName(tri.select(least(col("t1"), col("t2")).as("a"), greatest(col("t1"), col("t2")).as("b")))
        .groupBy("a", "b").agg(count(lit(1)).as("support"))
        .where(col("support") >= k - 2)
    }(Superstep.unchanged(_.count()))
  }

  /** Compact-forward core shared by [[triangleCountDF]] and
    * [[clusteringCoefficients]]: per-vertex triangle corner counts
    * (vid, __n) and simple-graph degrees (vid, __deg) over a
    * canonicalized (a < b, distinct, loop-free) edge table. See
    * [[triangleCountDF]] for the O(m^1.5) degree-ordered wedge bound. */
  private def triangleCorners(canon: DataFrame): (DataFrame, DataFrame) = {
    val (byDegree, deg) = orientByDegree(canon)
    val oriented = checkpoint(byDegree.select("s", "t"))
    // wedges from each apex s; the probe on the ORIENTED (t1 -> t2)
    // edge admits exactly one of the pair's two orderings
    val wedges = oriented
      .join(oriented.select(col("s"), col("t").as("t2")), Seq("s"))
      .where(col("t") =!= col("t2"))
      .select(col("s"), col("t").as("t1"), col("t2"))
    val triangles = wedges
      .join(oriented.select(col("s").as("t1"), col("t").as("t2")),
        Seq("t1", "t2"), "left_semi")
    val corners = triangles.select(explode(array(col("s"), col("t1"), col("t2"))).as("vid"))
      .groupBy("vid").agg(count(lit(1)).as("__n"))
    (corners, deg)
  }

  /** The degree orientation of [[triangleCorners]] and [[trussWedges]]
    * over canonical edges (a, b): every edge points from its lower
    * (degree, id) endpoint `s` to its higher one `t`, and `__kt` is t's
    * (degree, id) key. Returns (s, t, __kt) edges and the degrees
    * (vid, __deg). */
  private def orientByDegree(e: DataFrame): (DataFrame, DataFrame) = {
    val deg = e.select(col("a").as("vid")).unionByName(e.select(col("b").as("vid")))
      .groupBy("vid").agg(count(lit(1)).as("__deg"))
    val keyed = e
      .join(deg.select(col("vid").as("a"), col("__deg").as("__da")), Seq("a"))
      .join(deg.select(col("vid").as("b"), col("__deg").as("__db")), Seq("b"))
    val aLower = struct(col("__da"), col("a")) < struct(col("__db"), col("b"))
    (keyed.select(
      when(aLower, col("a")).otherwise(col("b")).as("s"),
      when(aLower, col("b")).otherwise(col("a")).as("t"),
      when(aLower, struct(col("__db").as("d"), col("b").as("v")))
        .otherwise(struct(col("__da").as("d"), col("a").as("v"))).as("__kt")), deg)
  }

  /** The edges of `edges` (a, b) whose endpoints share a community in
    * `lab` (vid, label), that community riding along as `__la`. */
  private def intraCommunity(edges: DataFrame, lab: DataFrame): DataFrame =
    edges
      .join(lab.select(col("vid").as("a"), col("label").as("__la")), Seq("a"))
      .join(lab.select(col("vid").as("b"), col("label").as("__lb")), Seq("b"))
      .where(col("__la") === col("__lb"))

  /** One SYNCHRONOUS Louvain local-move round (Blondel et al.'s phase-1
    * step, synchronized so it is deterministic and oracle-replayable):
    * every vertex simultaneously evaluates, against the CURRENT labels,
    * each candidate community c among its neighbors' communities plus its
    * own, by the modularity-gain comparator
    *
    *   score(v, c) = M·k_{v,c} − k_v·D'_c
    *
    * (M = directed edge count, k_{v,c} = edges from v into c, k_v =
    * deg(v), D'_c = c's degree sum with v's own contribution removed when
    * c is v's current community — the standard "gain of joining c after
    * leaving home" form, scaled by the positive constant 2m² so it is
    * EXACT integer arithmetic). The vertex adopts the (score desc,
    * label asc) argmax. Sequential Louvain applies moves one at a time;
    * the synchronous sweep is the standard distributed adaptation — one
    * round is one ascent step, iterate-and-rescore with
    * [[modularityByCommunity]] to convergence.
    *
    * Scale: one degree pass, one label decoration of the edge list
    * (vertex-keyed equi-joins), one map-side-combinable (v, c) rollup,
    * and a per-vertex argmax via min(struct) — no windows, no corpus
    * exchange beyond the edge list's own keys; products are guarded
    * try_multiply. Returns (vid, old_label, new_label, gain_cmp). */
  def louvainMoveRound(labels: DataFrame, symEdges: DataFrame): DataFrame = {
    // the edge frame feeds three scans (degrees, M, link counts) and the
    // label frame two — materialize both once so an expensive upstream
    // build (the co-purchase self-join) isn't recomputed per scan
    val se = checkpoint(symEdges)
    val lab = checkpoint(labels.select(col("vid"), col("label")))
    val deg = se.groupBy(col("a").as("vid")).agg(count(lit(1)).as("__kv"))
    val dC = lab.join(deg, Seq("vid"), "left")
      .groupBy("label").agg(sum(coalesce(col("__kv"), lit(0L))).as("__dc"))
    val m = se.agg(count(lit(1)).as("__M"))
    // k_{v,c}: edges from v into community c (current labels)
    val kvc = se
      .join(lab.select(col("vid").as("b"), col("label").as("__c")), Seq("b"))
      .groupBy(col("a").as("vid"), col("__c"))
      .agg(count(lit(1)).as("__kvc"))
    // candidates = neighbor communities ∪ own (own may be absent from
    // kvc when v has no intra-community edge — union it with k = 0)
    val own = lab.select(col("vid"), col("label").as("__c"), lit(0L).as("__kvc"))
    val cand = kvc.unionByName(own)
      .groupBy("vid", "__c").agg(max("__kvc").as("__kvc"))
    val scored = cand
      .join(lab, Seq("vid"))
      .join(deg, Seq("vid"), "left")
      .na.fill(0L, Seq("__kv"))
      .join(dC.select(col("label").as("__c"), col("__dc")), Seq("__c"))
      .crossJoin(broadcast(m))
      .select(col("vid"), col("label").as("old_label"), col("__c"),
        expr("coalesce(try_multiply(__M, __kvc), " +
          "raise_error('louvainMoveRound: M*k_vc overflowed BIGINT')) - " +
          "coalesce(try_multiply(__kv, __dc - IF(__c = label, __kv, CAST(0 AS BIGINT))), " +
          "raise_error('louvainMoveRound: k_v*D_c overflowed BIGINT'))").as("__score"))
    scored
      .select(col("vid"), col("old_label"),
        struct((-col("__score")).as("ns"), col("__c").as("c")).as("__s"))
      .groupBy("vid", "old_label")
      .agg(min("__s").as("__best"))
      .select(col("vid"), col("old_label"), col("__best.c").as("new_label"),
        (-col("__best.ns")).as("gain_cmp"))
  }

  /** Optimization-round tooling (graft.PlanDump): the level-1 loop-body
    * plan of [[louvain]]/[[leiden]] on a caller-supplied symmetrized edge
    * table — the plan executed (maxLevels × maxRounds) times per ascent. */
  private[graft] def louvainRoundPlanForDump(symEdges: DataFrame): DataFrame = {
    val e = ascentEdges(symEdges)
    val (deg, bigM, lab) = levelStart(e, None)
    louvainParityRound(lab, e, deg, bigM, 0)
  }

  /** The community ascent's level-1 edges: the symmetrized (a, b[, w])
    * table as longs, w = 1 when the column is absent. */
  private def ascentEdges(symEdges: DataFrame): DataFrame = {
    val w = if (symEdges.columns.contains("w")) col("w").cast("long") else lit(1L)
    checkpoint(symEdges.select(col("a").cast("long").as("a"),
      col("b").cast("long").as("b"), w.as("w")))
  }

  /** One ascent level's constants over its edges `e` (a, b, w): the
    * weighted degrees (vid, __kv), the total weight M, read once to the
    * driver so that every round takes it as a literal, and the starting
    * labels (vid, label) — `init`, else every vertex its own community. */
  private def levelStart(e: DataFrame,
                         init: Option[DataFrame]): (DataFrame, Long, DataFrame) = {
    val deg = checkpoint(e.groupBy(col("a").as("vid")).agg(sum("w").as("__kv")))
    val bigM = e.agg(coalesce(sum("w"), lit(0L))).head().getLong(0)
    (deg, bigM, checkpoint(init.getOrElse(deg.select(col("vid"), col("vid").as("label")))))
  }

  /** `map` (vid, label) followed by `next` (vid, label), which relabels
    * map's labels; a null `map` is the identity. */
  private def composeLabels(map: DataFrame, next: DataFrame): DataFrame =
    if (map == null) next
    else map.select(col("vid"), col("label").as("__mid"))
      .join(next.select(col("vid").as("__mid"), col("label")), Seq("__mid"))
      .select("vid", "label")

  /** The coarse graph of `e` (a, b, w) over `groups` (vid, label): one
    * supervertex per label, edge weights summed, and intra-group weight
    * on the diagonal, so degree sums and total weight are preserved. */
  private def coarsen(e: DataFrame, groups: DataFrame): DataFrame =
    checkpoint(
      e.join(groups.select(col("vid").as("a"), col("label").as("__ca")), Seq("a"))
        .join(groups.select(col("vid").as("b"), col("label").as("__cb")), Seq("b"))
        .groupBy(col("__ca").as("a"), col("__cb").as("b"))
        .agg(sum("w").as("w")))

  /** The multi-level ascent [[louvain]] and [[leiden]] share. Each level
    * runs the local-move phase on its edges `e`: parity rounds of
    * [[louvainParityRound]] until two consecutive zero-move rounds or
    * `maxRounds`, each round one eager checkpoint plus one moved-count
    * probe. Below `maxLevels`, `next(e, lab)` then decides on the level's
    * labels `lab`: None ends the ascent; Some((groups, init)) coarsens on
    * `groups` (vid, label) and starts the next level from `init` (None:
    * singletons). Returns (vid, label): the last level's labels composed
    * onto every ORIGINAL vertex. */
  private def ascend(symEdges: DataFrame, maxLevels: Int, maxRounds: Int)
                    (next: (DataFrame, DataFrame) => Option[(DataFrame, Option[DataFrame])]): DataFrame = {
    require(maxLevels >= 1, s"need maxLevels >= 1; got $maxLevels")
    require(maxRounds >= 2, s"need maxRounds >= 2; got $maxRounds")
    var e = ascentEdges(symEdges)
    var map: DataFrame = null // (vid, label): original vid -> this level's vertex
    var init: Option[DataFrame] = None
    var lab: DataFrame = null
    var level = 0
    var climbing = true
    while (climbing) {
      level += 1
      val (deg, bigM, start) = levelStart(e, init)
      lab = start
      var round = 0
      var zeroStreak = 0
      while (round < maxRounds && zeroStreak < 2) {
        val moves = checkpoint(louvainParityRound(lab, e, deg, bigM, round % 2))
        val moved = moves.agg(coalesce(sum("__moved"), lit(0L))).head().getLong(0)
        zeroStreak = if (moved == 0L) zeroStreak + 1 else 0
        lab = moves.select("vid", "label")
        round += 1
      }
      val coarse = if (level < maxLevels) next(e, lab) else None
      coarse.foreach { case (groups, nextInit) =>
        map = checkpoint(composeLabels(map, groups))
        e = coarsen(e, groups)
        init = nextInit
      }
      climbing = coarse.nonEmpty
    }
    composeLabels(map, lab)
  }

  /** One parity-restricted weighted local-move round for [[louvain]]:
    * vertices with vid % 2 == parity evaluate the gain comparator
    * (weighted twin of [[louvainMoveRound]]'s, self-loop weight excluded
    * from k_{v,c} — it joins every candidate community with v, a
    * constant offset) and adopt the argmax; the other parity class
    * passes through unchanged. Tie-breaks: on equal score the OWN
    * community wins (no zero-gain churn), equal-score foreign candidates
    * break label asc. `e` is (a, b, w) directed-symmetric with intra
    * weight on the diagonal; `deg`/`bigM` are level constants the caller
    * precomputed. */
  private[analytics] def louvainParityRound(lab: DataFrame, e: DataFrame, deg: DataFrame,
                                 bigM: Long, parity: Int): DataFrame = {
    val dC = lab.join(deg, Seq("vid"), "left")
      .groupBy("label").agg(sum(coalesce(col("__kv"), lit(0L))).as("__dc"))
    val active = lab.where(pmod(col("vid"), lit(2L)) === parity)
    val inactive = lab.where(pmod(col("vid"), lit(2L)) =!= parity)
    val kvc = e.where(col("a") =!= col("b") && pmod(col("a"), lit(2L)) === parity)
      .join(lab.select(col("vid").as("b"), col("label").as("__c")), Seq("b"))
      .groupBy(col("a").as("vid"), col("__c"))
      .agg(sum("w").as("__kvc"))
    val own = active.select(col("vid"), col("label").as("__c"), lit(0L).as("__kvc"))
    val cand = kvc.unionByName(own)
      .groupBy("vid", "__c").agg(max("__kvc").as("__kvc"))
    val scored = cand
      .join(active, Seq("vid"))
      .join(deg, Seq("vid"))
      .join(dC.select(col("label").as("__c"), col("__dc")), Seq("__c"))
      .withColumn("__M", lit(bigM))
      .select(col("vid"), col("label"),
        struct(
          // ns = −score = k_v·D'_c − M·k_{v,c}; min(struct) ⇒ score desc
          expr("coalesce(try_multiply(__kv, __dc - IF(__c = label, __kv, CAST(0 AS BIGINT))), " +
            "raise_error('louvain: k_v*D_c overflowed BIGINT')) - " +
            "coalesce(try_multiply(__M, __kvc), " +
            "raise_error('louvain: M*k_vc overflowed BIGINT'))").as("ns"),
          when(col("__c") === col("label"), 0).otherwise(1).as("foreign"),
          col("__c").as("c")).as("__s"))
    // __moved rides along so the caller's convergence check is a scan-sum
    // over the checkpointed round output, not a second vertex-keyed join
    scored.groupBy("vid", "label").agg(min("__s").as("__best"))
      .select(col("vid"), col("__best.c").as("__new"),
        when(col("__best.c") =!= col("label"), 1L).otherwise(0L).as("__moved"))
      .select(col("vid"), col("__new").as("label"), col("__moved"))
      .unionByName(inactive.select(col("vid"), col("label"), lit(0L).as("__moved")))
  }

  /** FULL multi-level Louvain (Blondel et al. 2008, arXiv:0803.0476):
    * each LEVEL iterates the local-move step to a fixpoint, then
    * COARSENS — every community becomes a supervertex, edge weights
    * aggregate, intra-community weight lands on the diagonal so the
    * coarse graph's degree sums and total weight are exactly preserved —
    * and the next level repeats on the coarse graph. Input is the
    * symmetrized edge table (a, b[, w]); returns (vid, label): the
    * top-level community of every ORIGINAL vertex.
    *
    * Schedule: rounds are PARITY-ALTERNATED (round r moves only vertices
    * with vid % 2 == r % 2) — the standard distributed symmetry-breaker
    * (the all-vertex synchronous sweep of [[louvainMoveRound]] ping-pongs
    * on symmetric structures: two vertices that each compute "join the
    * other" swap forever). A level's fixpoint is TWO consecutive
    * zero-move rounds (one per parity class — then every vertex is at
    * its argmax and further rounds are no-ops), capped at `maxRounds`;
    * the hierarchy stops when a level moves nothing out of singletons
    * (coarsening would be the identity), capped at `maxLevels`.
    *
    * The cap is LOAD-BEARING on real graphs, not a safety formality:
    * synchronous local-move (parity-split included) has no guaranteed
    * movement fixpoint — on the sf0.01 co-purchase graph ~20% of
    * vertices settle into persistent positive-gain two-cycles (measured:
    * level-1 moves plateau at ~370/1880 per round; coarse levels
    * alternate exactly 136/225) while partition quality saturates within
    * the first few sweeps. Bounded sweeps per level + the coarsening
    * hierarchy is the standard distributed adaptation (Blondel's
    * sequential one-at-a-time ascent, which does terminate, serializes
    * the whole graph). Small/converging graphs still exit early via the
    * zero-streak test.
    *
    * Determinism/oracle: every round is a pure function of the previous
    * labels with pinned tie-breaks (own community on equal score, then
    * label asc), so a fixed (maxLevels × maxRounds) CTE unroll replays
    * the converge-early run exactly — converged rounds and levels are
    * no-ops by construction, the k-core oracle's idempotence argument.
    *
    * Scale: per round one label decoration of the (parity-halved) edge
    * list, one map-side-combinable (v, c) rollup and a per-vertex
    * min(struct) argmax — vertex-keyed equi-joins only, no windows, no
    * corpus exchange; each coarsening SHRINKS the graph to one row per
    * surviving community pair, so level cost drops geometrically (the
    * level-1 rounds dominate). Driver holds only per-round moved-counts
    * and the loop bounds. */
  def louvain(symEdges: DataFrame, maxLevels: Int = 3, maxRounds: Int = 12): DataFrame =
    checkpoint(ascend(symEdges, maxLevels, maxRounds) { (_, lab) =>
      // a level that moves nothing out of singletons ends the ascent
      if (lab.where(col("label") =!= col("vid")).limit(1).count() > 0) Some((lab, None))
      else None
    })

  /** TRUE Leiden schedule (Traag, Waltman & van Eck 2019,
    * arXiv:1810.08473 §III — deterministic connectivity-refinement
    * variant): each level runs [[louvain]]'s parity-alternated local-move
    * sweeps to the bounded fixpoint, then — INTERLEAVED into the level
    * loop, not post-hoc — REFINES the partition (every community splits
    * into its connected fragments over its own intra-community edges,
    * the [[refineCommunities]] rule) and COARSENS on the REFINED
    * partition: supervertices are the connected fragments, and the next
    * level's moves START from each fragment's HOME community instead of
    * from singletons, so upper levels ascend on a well-formed base.
    * (The measured round-14 defect this fixes: post-hoc refinement found
    * the 3×8 louvain's 430 communities hiding 917 connected fragments —
    * every coarse level above them had ascended on a broken base.)
    * Refinement is the connectivity split — Traag's refinement phase
    * restricted to the guarantee Leiden is named for, kept deterministic
    * so the oracle can replay it. Both schedules run the one level loop
    * [[ascend]] (set up by [[levelStart]], coarsened by [[coarsen]]), so
    * the move comparator ([[louvainParityRound]]), tie-breaks, parity
    * schedule and per-level round caps are [[louvain]]'s by
    * construction, and a fixed (maxLevels × maxRounds) CTE unroll
    * replays the run bit-for-bit. Returns (vid, label): the top-level COMMUNITY of every
    * ORIGINAL vertex (communities, like [[louvain]] — compose
    * [[refineCommunities]] for a final connectivity guarantee).
    *
    * Levels are FIXED at maxLevels (no early exit): with home-community
    * initialization a converged level replays as a no-op — zero-move
    * rounds (two-zero-streak exit), identity refinement, identity
    * coarsening — so honoring the cap costs a few no-op rounds on an
    * already-coarse graph and keeps the oracle unroll exact.
    *
    * Scale: everything [[louvain]] pays, plus per level one
    * min-propagation cc fixpoint over INTRA-community edges only (the
    * inter-community edges — most of a real graph's — never enter the
    * iteration) and the same geometric shrink: each coarsening leaves
    * one row per surviving fragment pair.
    *
    * DEFAULT CHOICE: prefer this over raw [[louvain]] for new callers —
    * the 1×/10×/100× probes measured IDENTICAL cost at volume (780 vs
    * 779 s at 100×; SCALE.md round 15) for substantially higher
    * modularity on the probe graph (the `graph_leiden_quality` gate row
    * pins Q(leiden) ≥ Q(louvain) exactly), plus the connected-community
    * guarantee the raw ascent lacks. */
  def leiden(symEdges: DataFrame, maxLevels: Int = 3, maxRounds: Int = 8): DataFrame =
    ascend(symEdges, maxLevels, maxRounds) { (e, lab) =>
      // refine on the MOVE-phase partition (self-loops excluded: the
      // diagonal carries coarse intra WEIGHT, not adjacency)
      val frag = checkpoint(
        refineCommunities(lab, e.where(col("a") =!= col("b")).select("a", "b")))
      // every fragment starts the next level in its HOME community —
      // fragments never straddle communities, so members agree on the
      // label (min is determinism belt-and-braces, not a choice)
      val home = checkpoint(
        frag.select(col("vid"), col("label").as("__frag")).join(lab, Seq("vid"))
          .groupBy(col("__frag").as("vid")).agg(min("label").as("label")))
      Some((frag, Some(home)))
    }

  /** Whole-partition Newman modularity in ONE exact-integer pass:
    * with M = directed edge count, E_c = intra-community directed edge
    * count, D_c = community degree sum,
    *
    *   Q = (M·ΣE_c − ΣD_c²) / M²
    *
    * — the sum of [[modularityByCommunity]]'s per-community
    * contributions computed WITHOUT summing per-community doubles:
    * the numerator combines in decimal(38,0) (exact to 38 digits) and
    * meets ONE IEEE double division, so the result is bit-replayable by
    * any engine with exact 128-bit integer sums (the assortativity
    * discipline). Returns one row (n_communities, internal_directed, q);
    * q is NULL on an edgeless graph (try_divide).
    *
    * Scale: one degree pass, one label decoration of the edge list
    * (vertex-keyed equi-joins), two global aggregates — no windows, no
    * per-community fan-back. */
  def modularityTotal(labels: DataFrame, symEdges: DataFrame): DataFrame = {
    val dec = "decimal(38,0)"
    val lab = labels.select(col("vid"), col("label"))
    val deg = symEdges.groupBy(col("a").as("vid")).agg(count(lit(1)).as("__deg"))
    val perC = lab.join(deg, Seq("vid"), "left")
      .groupBy("label")
      .agg(sum(coalesce(col("__deg"), lit(0L))).as("__dsum"))
    val parts = perC.agg(count(lit(1)).as("n_communities"),
      sum(col("__dsum").cast(dec) * col("__dsum").cast(dec)).as("__dsq"))
    val internal = intraCommunity(symEdges, lab)
      .agg(count(lit(1)).as("internal_directed"))
    val m = symEdges.agg(count(lit(1)).as("__M"))
    parts.crossJoin(broadcast(internal)).crossJoin(broadcast(m))
      .select(col("n_communities"), col("internal_directed"),
        round(try_divide(
          (col("internal_directed").cast(dec) * col("__M").cast(dec) - col("__dsq"))
            .cast("double"),
          (col("__M").cast(dec) * col("__M").cast(dec)).cast("double")), 6).as("q"))
  }

  /** Per-vertex local clustering coefficient over an undirected edge
    * table (a, b) (any orientation and numeric ids, read as
    * [[canonicalPairs]]; duplicates and self-loops tolerated):
    * c(v) = triangles(v) / (deg(v) choose 2) in exact integer micro-units
    * — how close each vertex's neighborhood is to a clique, the classic
    * small-world / community-structure signal. Vertices with deg < 2
    * score 0.
    *
    * Scale: the triangle side is the shared compact-forward core
    * (O(m^1.5) wedges, equi-joins only); the ratio is guarded integer
    * arithmetic (try_multiply raises instead of wrapping once a hub sits
    * in > 4.6e12 triangles). Returns (vid, degree, triangles,
    * coeff_micro). */
  def clusteringCoefficients(edges: DataFrame): DataFrame = {
    val (corners, deg) = triangleCorners(checkpoint(canonicalPairs(edges)))
    deg.join(corners, Seq("vid"), "left")
      .select(col("vid"), col("__deg").as("degree"),
        coalesce(col("__n"), lit(0L)).as("triangles"))
      .select(col("vid"), col("degree"), col("triangles"),
        when(col("degree") < 2, lit(0L)).otherwise(expr(
          "coalesce(try_multiply(CAST(2000000 AS BIGINT), triangles), " +
            "raise_error('clusteringCoefficients: 2e6*triangles overflowed BIGINT')) " +
            "DIV (degree * (degree - 1))")).as("coeff_micro"))
  }

  /** Degree-assortativity coefficient of a symmetrized (each undirected
    * edge present in BOTH directions, no duplicates) edge table (a, b):
    * the Pearson correlation between the degrees at the two ends of an
    * edge (Newman's directed-double-count estimator, the standard
    * undirected form). With M = directed edge count, j = deg(a),
    * k = deg(b) per row and exact integer sums Sjk = Σ j·k, Sj = Σ j
    * (= Σ k by symmetry), Sj2 = Σ j²:
    *
    *   r = (M·Sjk − Sj²) / (M·Sj2 − Sj²)
    *
    * Scale: ONE map-side-combinable degree pass, two equi-joins
    * decorating each edge with its endpoint degrees (both shuffle on the
    * vertex key — the same partitioning, reused), one global aggregate.
    * The per-row products and sums are guarded Long arithmetic
    * (try_multiply/try_sum raise instead of wrapping — hub degrees at the
    * 100 TB point push j·k sums past 2^63, the dupLineReport overflow
    * class); the final numerator/denominator combine in decimal(38,0)
    * (exact to 38 digits) and meet in ONE IEEE double division —
    * bit-identical across engines, no float-summation-order surface.
    * Returns one row (m_directed, sum_jk, sum_j, sum_j2, assortativity). */
  def assortativity(symEdges: DataFrame): DataFrame = {
    def guarded(e: String) = expr(
      s"coalesce($e, raise_error('assortativity: sum overflowed BIGINT — " +
        "use a sampled edge frame or widen to decimal partials'))")
    val dec = "decimal(38,0)"
    // the edge frame is read three times (degree pass + both decoration
    // joins); materialize it once so an expensive upstream build (e.g. the
    // co-purchase self-join) isn't recomputed per scan
    val se = checkpoint(symEdges)
    val deg = se.groupBy(col("a").as("__v")).agg(count(lit(1)).as("__deg"))
    val scored = se
      .join(deg.select(col("__v").as("a"), col("__deg").as("__da")), Seq("a"))
      .join(deg.select(col("__v").as("b"), col("__deg").as("__db")), Seq("b"))
      .select(col("__da"), col("__db"))
    scored
      .agg(count(lit(1)).as("__m"),
        guarded("try_sum(try_multiply(__da, __db))").as("__sjk"),
        guarded("try_sum(__da)").as("__sj"),
        guarded("try_sum(try_multiply(__da, __da))").as("__sj2"))
      .select(col("__m").as("m_directed"), col("__sjk").as("sum_jk"),
        col("__sj").as("sum_j"), col("__sj2").as("sum_j2"),
        // try_divide: a degree-REGULAR graph has zero degree variance —
        // the correlation is undefined there, reported as NULL (ANSI
        // double division would raise)
        round(try_divide(
          (col("__m").cast(dec) * col("__sjk").cast(dec) -
            col("__sj").cast(dec) * col("__sj").cast(dec)).cast("double"),
          (col("__m").cast(dec) * col("__sj2").cast(dec) -
            col("__sj").cast(dec) * col("__sj").cast(dec)).cast("double")), 6)
          .as("assortativity"))
  }

  /** Newman modularity of a community assignment, one row per community.
    * `labels` is (vid, label); `symEdges` is the directed-symmetric
    * deduplicated (a, b) table ([[symmetrizedEdges]]). Per community c,
    * with M = directed edge count (= 2m), E_c = directed edges with both
    * endpoints in c, D_c = Σ deg(v) over c's members:
    *
    *   Q_c = E_c/M − (D_c/M)²   and   Q = Σ_c Q_c
    *
    * The exact-integer core Q_c = (E_c·M − D_c²)/M² combines in
    * decimal(38,0) (a Long wraps once D_c² passes 2^63 — giant-community
    * scale) and pays ONE double division per community — engine-parity
    * safe, no float accumulation. Scale: one degree pass, one per-vertex
    * label join, the both-endpoints decoration reuses the same vertex
    * key, and the rollup is a map-side-combinable groupBy(label); M is a
    * 1-row broadcast. Returns
    * (label, n_nodes, degree_sum, internal_directed, q_contrib). */
  def modularityByCommunity(labels: DataFrame, symEdges: DataFrame): DataFrame = {
    val dec = "decimal(38,0)"
    val lab = labels.select(col("vid"), col("label"))
    val deg = symEdges.groupBy(col("a").as("vid")).agg(count(lit(1)).as("__deg"))
    val perC = lab.join(deg, Seq("vid"), "left")
      .groupBy("label")
      .agg(count(lit(1)).as("n_nodes"),
        sum(coalesce(col("__deg"), lit(0L))).as("degree_sum"))
    val internal = intraCommunity(symEdges, lab)
      .groupBy(col("__la").as("label")).agg(count(lit(1)).as("internal_directed"))
    val m = symEdges.agg(count(lit(1)).as("__M"))
    perC.join(internal, Seq("label"), "left")
      .na.fill(0L, Seq("internal_directed"))
      .crossJoin(broadcast(m))
      .select(col("label"), col("n_nodes"), col("degree_sum"),
        col("internal_directed"),
        // try_divide: an EDGELESS graph has M = 0 and Q is undefined —
        // NULL per community (ANSI double division would raise)
        round(try_divide(
          (col("internal_directed").cast(dec) * col("__M").cast(dec) -
            col("degree_sum").cast(dec) * col("degree_sum").cast(dec)).cast("double"),
          (col("__M").cast(dec) * col("__M").cast(dec)).cast("double")), 6)
          .as("q_contrib"))
  }
}

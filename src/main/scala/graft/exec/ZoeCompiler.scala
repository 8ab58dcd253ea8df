package graft.exec

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.Materialize.checkpoint
import graft.model.GraphStore
import graft.ql._

/** Result of a Zoe query, as lazy DataFrames (reference shape: QueryResult,
  * ql.rs:360-472).
  *
  *  - vertices(id)                — all matched vertex ids
  *  - edges(id)                   — all matched edge ids
  *  - paths(start, path, end)     — one surviving path per result element
  *                                  (path = array<struct<v,e>>)
  *  - properties(hash)            — non-empty only for top-level P queries
  *                                  (implemented properly here; the reference
  *                                  stubs it to empty, kv_graph_store.rs:307-317)
  *  - variables(key, value)       — the merged side-effect variables of all
  *                                  surviving contexts (ql.rs:421,462
  *                                  `variables.extend(ctx_vars)`)
  */
final case class ZoeResult(
    vertices: DataFrame,
    edges: DataFrame,
    paths: DataFrame,
    properties: DataFrame,
    variables: DataFrame)

/** Named engine-native predicates usable from `ZFilter("registry", name)`. */
object FilterRegistry {
  @volatile private var registry: Map[String, DataFrame => DataFrame] = Map.empty
  def register(name: String)(f: DataFrame => DataFrame): Unit =
    synchronized { registry += (name -> f) }
  def lookup(name: String): DataFrame => DataFrame =
    registry.getOrElse(name,
      throw new UnsupportedOperationException(s"no registered filter '$name'"))
}

/** Compiles a Zoe query into ONE lazy Catalyst plan over the four graph
  * tables. Each AST node becomes a join/semi-join/anti-join/union on the
  * traversal DataFrame instead of the reference's eager per-element KV
  * interpretation (kv_graph_store.rs:139-305) — Catalyst then reorders,
  * pushes predicates into the parquet scans, and picks broadcast vs shuffle
  * joins (with AQE) per stage.
  *
  * Traversal DataFrame columns (the reference's per-element query context,
  * ql.rs:252-352, as columns):
  *   id, path array<struct<v,e>>, start string, v_store/e_store array<string>
  * Edge traversals additionally carry src, dst for the next hop.
  *
  * Context-collision semantics: the reference keeps ONE context per element
  * (HashMap insert; kv_graph_store.rs:59-60). We keep all rows during
  * traversal and collapse to one arbitrary context per element at result
  * assembly (SURVEY.md §7.4 decision 1) — same sets, same path cardinality.
  *
  * Store semantics: the v_store/e_store context columns carry small TOKENS,
  * not the stored ids — each Store node registers its selection as a side
  * DataFrame keyed by a fresh token and appends only the token to the
  * context. Result assembly unions in the snapshots whose token survives on
  * at least one row (exactly the reference's per-context store visibility:
  * if every carrying element is later subtracted away, the snapshot
  * disappears) — so traversal rows stay narrow and no single-reducer
  * collect_set/crossJoin materializes the snapshot onto every row.
  *
  * `variables`: the per-context side-effect variable map (ql.rs:262). The
  * reference never writes variables during traversal (no AST node does), so
  * the column is carried verbatim from the initial map supplied here and
  * merged into the result (ql.rs:421) — the wire shape is lossless.
  */
final class ZoeCompiler(g: GraphStore, initialVariables: Map[String, String] = Map.empty) {
  import ZoeCompiler._

  private def spark = g.vertices.sparkSession

  private val storeCounter = new java.util.concurrent.atomic.AtomicInteger(0)

  /** What the vertex and the edge half of the compiler differ in: the
    * element table and its id column, and the context column, token prefix
    * and side tables of their Store nodes. */
  private final class Side(val fresh: () => DataFrame, val idCol: String,
                           storeCol: String, tokenPrefix: String) {
    private val stores = scala.collection.concurrent.TrieMap.empty[String, DataFrame]

    /** Snapshot the whole selection `r` (doc semantics,
      * docs/key_value_store.adoc:1710-1714): it is registered as a side
      * table under a fresh token, and only the token rides the rows. */
    def store(r: DataFrame): DataFrame = {
      val token = s"$tokenPrefix${storeCounter.incrementAndGet()}"
      stores.put(token, r.select("id"))
      r.withColumn(storeCol, array_union(col(storeCol), array(lit(token))))
    }

    /** Snapshot ids of every Store whose token survives on at least one row
      * of `d`: tokens are exploded (tiny — one per Store node) and
      * semi-joined against the union of the side tables. Fully declarative
      * — no driver collect, no single-partition aggregation. */
    def liveIds(d: DataFrame): DataFrame =
      if (stores.isEmpty) emptyIds
      else {
        val toks = d.select(explode(col(storeCol)).as("__tok")).distinct()
        stores.readOnlySnapshot().toSeq
          .map { case (t, ids) => ids.select(lit(t).as("__tok"), col("id")) }
          .reduce(_ unionByName _)
          .join(toks, Seq("__tok"), "left_semi")
          .select("id")
      }
  }
  private val vertexSide = new Side(() => freshVertices(), "id", "v_store", "__vs")
  private val edgeSide = new Side(() => freshEdges(), "edge_id", "e_store", "__es")

  private def variablesCol: Column = typedLit(initialVariables)

  def run(q: BasicQuery): ZoeResult = q match {
    case BasicQuery.V(v) => assemble(compileV(v), vertexSide)
    case BasicQuery.E(e) => assemble(compileE(e), edgeSide)
    case BasicQuery.P(p) =>
      val empty = spark.emptyDataFrame.select(lit("").as("id")).limit(0)
      val emptyPaths = spark.range(0).select(
        lit(null).cast("string").as("start"),
        emptyPathCol.as("path"),
        lit(null).cast("string").as("end"))
      ZoeResult(empty, empty, emptyPaths, compileP(p), emptyVariables)
  }

  def run(q: VertexQuery): ZoeResult = run(BasicQuery.V(q))
  def run(q: EdgeQuery): ZoeResult = run(BasicQuery.E(q))
  def run(q: PropertyQuery): ZoeResult = run(BasicQuery.P(q))

  /** Full traversal with ALL surviving contexts (one row per distinct path) —
    * a superset of the reference's one-context-per-element result, useful for
    * host-level aggregation over paths (SURVEY.md §2.8 pattern). Columns:
    * id, path, start, v_store, e_store, variables (+ src/dst for edge
    * traversals); v_store/e_store hold Store TOKENS (see class doc), not
    * ids — resolve them through `run`'s assembly. */
  def traceV(q: VertexQuery): DataFrame = compileV(q)
  def traceE(q: EdgeQuery): DataFrame = compileE(q)

  // ---- property queries: DataFrame with a single `hash` column ----

  def compileP(q: PropertyQuery): DataFrame = q match {
    case PropertyQuery.Specific(id) =>
      // existence-checked point lookup (kv_graph_store.rs:328-335)
      freshProps().where(col("hash") === id).select("hash")
    case PropertyQuery.FromTo(a, b) =>
      // inclusive lexicographic key range (kv_graph_store.rs:429-447);
      // a plain range predicate -> parquet min/max pruning at scale
      freshProps().where(col("hash") >= a && col("hash") <= b).select("hash")
    case PropertyQuery.ReferencingProperties(pq) =>
      val r = freshPropRefs()
      r.join(compileP(pq), r("child_hash") === col("hash"), "left_semi")
        .select(col("parent_hash").as("hash")).distinct()
    case PropertyQuery.ReferencedProperties(pq) =>
      val r = freshPropRefs()
      r.join(compileP(pq), r("parent_hash") === col("hash"), "left_semi")
        .select(col("child_hash").as("hash")).distinct()
  }

  // ---- vertex traversals ----

  def compileV(q: VertexQuery): DataFrame = q match {
    case VertexQuery.All =>
      withVertexCtx(freshVertices().select(col("id")))
    case VertexQuery.Specific(ids) =>
      // like the reference, NOT existence-checked (kv_graph_store.rs:151-155)
      withVertexCtx(idsDf(ids, "id"))
    case VertexQuery.Property(pq) =>
      val v = freshVertices()
      withVertexCtx(
        v.join(compileP(pq), v("prop_hash") === col("hash"), "left_semi")
          .select(col("id")))
    case VertexQuery.Out(eq) =>
      // target vertices (dst) of the edge result; entering a vertex does not
      // extend the path (ql.rs:333-352). Ghost edges from an unchecked
      // E.Specific carry null endpoints — the reference's read_edge would
      // fail there; a distributed engine skips them instead of aborting.
      compileE(eq).where(col("dst").isNotNull)
        .select((col("dst").as("id")) +: ctxCols: _*)
    case VertexQuery.In(eq) =>
      compileE(eq).where(col("src").isNotNull)
        .select((col("src").as("id")) +: ctxCols: _*)
    case VertexQuery.Union(a, b) =>
      compileV(a).unionByName(compileV(b))
    case VertexQuery.Intersect(a, b) =>
      // keeps the left side's contexts (kv_graph_store.rs:889-903)
      semi(compileV(a), compileV(b))
    case VertexQuery.Substract(a, b) =>
      anti(compileV(a), compileV(b))
    case VertexQuery.DisjunctiveUnion(a, b) =>
      symmetricDifference(compileV(a), compileV(b))
    case VertexQuery.Filter(sub, f) =>
      applyFilter(compileV(sub), f, vertexSide)
    case VertexQuery.Store(sub) =>
      vertexSide.store(compileV(sub))
  }

  // ---- edge traversals ----

  def compileE(q: EdgeQuery): DataFrame = q match {
    case EdgeQuery.All =>
      withEdgeCtx(freshEdges())
    case EdgeQuery.Specific(ids) =>
      // reference parity: listed ids are NOT existence-checked
      // (kv_graph_store.rs:229-233) — unknown ids surface in the result set;
      // their endpoints are null, so hops drop them (see VertexQuery.Out)
      withEdgeCtx(idsDf(ids, "edge_id").join(
        freshEdges().select(col("edge_id"), col("src"), col("dst")),
        Seq("edge_id"), "left"))
    case EdgeQuery.Property(pq) =>
      val e = freshEdges()
      withEdgeCtx(e.join(compileP(pq), e("prop_hash") === col("hash"), "left_semi"))
    case EdgeQuery.Out(vq) =>
      hop(compileV(vq), joinOn = "src")
    case EdgeQuery.In(vq) =>
      hop(compileV(vq), joinOn = "dst")
    case EdgeQuery.Union(a, b) =>
      compileE(a).unionByName(compileE(b))
    case EdgeQuery.Intersect(a, b) =>
      semi(compileE(a), compileE(b))
    case EdgeQuery.Substract(a, b) =>
      anti(compileE(a), compileE(b))
    case EdgeQuery.DisjunctiveUnion(a, b) =>
      symmetricDifference(compileE(a), compileE(b))
    case EdgeQuery.Filter(sub, f) =>
      applyFilter(compileE(sub), f, edgeSide)
    case EdgeQuery.Store(sub) =>
      edgeSide.store(compileE(sub))
  }

  /** Initialize a fresh vertex context (VertexQueryContext::new, ql.rs:269-278). */
  private def withVertexCtx(ids: DataFrame): DataFrame =
    ids.select(col("id"),
      emptyPathCol.as("path"),
      lit(null).cast("string").as("start"),
      emptyStrArray.as("v_store"),
      emptyStrArray.as("e_store"),
      variablesCol.as("variables"))

  /** Initialize a fresh edge context: a chain that starts at an edge records
    * it in `start` (EdgeQueryContext::new, ql.rs:326-334). */
  private def withEdgeCtx(edges: DataFrame): DataFrame =
    edges.select(col("edge_id").as("id"), col("src"), col("dst"),
      emptyPathCol.as("path"),
      col("edge_id").as("start"),
      emptyStrArray.as("v_store"),
      emptyStrArray.as("e_store"),
      variablesCol.as("variables"))

  /** vertex -> edge hop: join the traversal with the edges table on src
    * (outgoing) or dst (incoming); entering an edge appends
    * (currentVertex, edge) to the path (ql.rs:281-302 into_edge_ctx). */
  private def hop(v: DataFrame, joinOn: String): DataFrame = {
    val e = freshEdges()
    v.join(e, v("id") === e(joinOn))
      .select(
        e("edge_id").as("id"), e("src"), e("dst"),
        concat(v("path"), array(struct(v("id").as("v"), e("edge_id").as("e")))).as("path"),
        v("start"), v("v_store"), v("e_store"), v("variables"))
  }

  /** Fresh attribute ids per use site, so nested re-uses of a base table in
    * one plan never produce ambiguous self-join references. */
  private def fresh(df: DataFrame): DataFrame =
    df.select(df.columns.map(c => df(c).as(c)): _*)
  private def freshEdges(): DataFrame = fresh(g.edges)
  private def freshVertices(): DataFrame = fresh(g.vertices)
  private def freshProps(): DataFrame = fresh(g.props)
  private def freshPropRefs(): DataFrame = fresh(g.propRefs)

  private def idsDf(ids: Seq[String], name: String): DataFrame = {
    val s = spark
    import s.implicits._
    ids.toDF(name)
  }

  private def semi(a: DataFrame, b: DataFrame): DataFrame =
    a.join(b.select(col("id").as("__other")), a("id") === col("__other"), "left_semi")
  private def anti(a: DataFrame, b: DataFrame): DataFrame =
    a.join(b.select(col("id").as("__other")), a("id") === col("__other"), "left_anti")
  /** DisjunctiveUnion: the documented symmetric difference. */
  private def symmetricDifference(a: DataFrame, b: DataFrame): DataFrame =
    anti(a, b).unionByName(anti(b, a))

  /** `df` joined (`how`) with the `side` element that `key` names, then
    * (`propHow`) with that element's property, whose `value` and
    * `schema_type` join `df`'s columns. With `hide`, the element id, its
    * `prop_hash` and the property `hash` join as `__vid`, `__ph` and `__h`,
    * so none shadows a column of `df`. */
  private def withProperty(df: DataFrame, key: Column, side: Side, how: String,
                           propHow: String, hide: Boolean = false): DataFrame = {
    val (id, ph, h) = if (hide) ("__vid", "__ph", "__h") else (side.idCol, "prop_hash", "hash")
    val t = side.fresh()
    val el = t.select(t(side.idCol).as(id), t("prop_hash").as(ph))
    val p = freshProps()
    val pr = p.select(p("hash").as(h), p("value"), p("schema_type"))
    df.join(el, key === el(id), how).join(pr, el(ph) === pr(h), propHow)
  }

  private def applyFilter(df: DataFrame, f: ZFilter, side: Side): DataFrame =
    f.interpreter match {
      case "sql" =>
        // join the element's property once, evaluate `script` as a boolean
        // SQL expression over (id, value, schema_type), keep codegen-friendly
        withProperty(df, df("id"), side, "inner", "left", hide = true)
          .where(expr(f.script))
          .drop("__vid", "__ph", "__h", "value", "schema_type")
      case "registry" => FilterRegistry.lookup(f.script)(df)
      case other =>
        // ShellFilter subprocess execution (ql.rs:354-358) is deliberately
        // not supported in a distributed engine
        throw new UnsupportedOperationException(
          s"filter interpreter '$other' not supported; use 'sql' or 'registry'")
    }

  // ---- result assembly ----

  // Assembly reads the traversal up to 3x (ids, stores, paths).
  // A checkpoint materializes it exactly once; unlike a session-lifetime
  // cache (which evicted the shared graph tables and caused recompute
  // storms) the checkpoint blocks are released with the RDD when the result
  // is garbage-collected.
  //
  // A traversal of `own`'s elements: its ids plus the live Store snapshots of
  // its kind, the other kind's live snapshots, and one path per element —
  // which ends at the element if it is a vertex.
  private def assemble(df: DataFrame, own: Side): ZoeResult = {
    val d = checkpoint(df)
    def ids(side: Side): DataFrame =
      (if (side eq own) d.select("id").unionByName(side.liveIds(d)) else side.liveIds(d)).distinct()
    val end = if (own eq vertexSide) col("id") else lit(null).cast("string")
    val paths = d.groupBy("id")
      .agg(first("path").as("path"), first("start").as("start"))
      .select(col("start"), col("path"), end.as("end"))
    ZoeResult(ids(vertexSide), ids(edgeSide), paths, emptyProps, mergedVariables(d))
  }

  /** Result-level variables = union of all surviving contexts' entries
    * (ql.rs:421 `variables.extend`; last-wins collisions cannot arise here
    * because every context carries the same initial map). */
  private def mergedVariables(d: DataFrame): DataFrame =
    d.select(explode(col("variables"))).toDF("key", "value").distinct()

  private def emptyIds: DataFrame =
    spark.emptyDataFrame.select(lit("").as("id")).limit(0)

  private def emptyVariables: DataFrame =
    spark.emptyDataFrame.select(lit("").as("key"), lit("").as("value")).limit(0)

  private def emptyProps: DataFrame = g.props.select("hash").limit(0)

  // ---- materialization (reference: kv_graph_store.rs:96-137) ----

  /** Property values of all result vertices, then edges — one row per
    * element (duplicated values are kept, as in extract_properties). */
  def extractProperties(r: ZoeResult): DataFrame = {
    def props(ids: DataFrame, side: Side): DataFrame =
      withProperty(ids, ids("id"), side, "inner", "inner").select(col("value"), col("schema_type"))
    props(r.vertices, vertexSide).unionByName(props(r.edges, edgeSide))
  }

  /** Per path: property values as [startEdgeProp?] ++ hops.flatMap(v,e =>
    * [vProp, eProp]) ++ [endVertexProp?] (kv_graph_store.rs:108-137).
    * Returns (end, props array<string>). */
  def extractPathProperties(r: ZoeResult): DataFrame = {
    // localCheckpoint (not cache): __pid must be stable across reads, and
    // the checkpoint is dropped with the RDD instead of occupying session
    // cache space
    val pathsId = checkpoint(r.paths.withColumn("__pid", monotonically_increasing_id()))

    // The start-edge property (position -1, edge slot only) and end-vertex
    // property (position MAX, vertex slot only) are FUSED into the exploded
    // hop frame as sentinel pseudo-hops: one pass over vertices+props and
    // one over edges+props covers all three pieces, instead of a separate
    // 4-join chain for start/end plus a final per-path assembly join
    // (round-8 verdict: those extra stages dominated at toy scale without
    // helping at 100×). Per-group state stays bounded by path length.
    val nullStr = lit(null).cast("string")
    val rows = pathsId.select(col("__pid"), col("end"),
        explode(concat(
          array(struct(lit(-1).as("__pos"), nullStr.as("v"), col("start").as("e"))),
          transform(col("path"), (h, i) =>
            struct(i.cast("int").as("__pos"), h.getField("v").as("v"), h.getField("e").as("e"))),
          array(struct(lit(Int.MaxValue).as("__pos"), col("end").as("v"), nullStr.as("e")))))
          .as("__hop"))
      .select(col("__pid"), col("end"), col("__hop.__pos").as("__pos"),
        col("__hop.v").as("__vid"), col("__hop.e").as("__eid"))
    val withV = withProperty(rows, rows("__vid"), vertexSide, "left", "left")
      .select(col("__pid"), col("end"), col("__pos"), col("value").as("__vval"), col("__eid"))
    val withVE = withProperty(withV, withV("__eid"), edgeSide, "left", "left")
      .select(col("__pid"), col("end"), col("__pos"), col("__vval"), col("value").as("__eval"))
    // per hop the order is [vertexProp, edgeProp]; the sentinels contribute
    // [null, startProp] before hop 0 and [endProp, null] after the last —
    // a single null-filter after the position-sorted flatten restores the
    // reference's [start?] ++ hops ++ [end?] layout exactly
    withVE.groupBy(col("__pid"), col("end"))
      .agg(flatten(array_sort(collect_list(struct(col("__pos"), array(col("__vval"), col("__eval")).as("vals"))))
        .getField("vals")).as("__all"))
      .select(col("end"), filter(col("__all"), x => x.isNotNull).as("props"))
  }
}

object ZoeCompiler {
  private val emptyPathCol: Column =
    array().cast("array<struct<v:string,e:string>>")
  private val emptyStrArray: Column = array().cast("array<string>")

  private val ctxCols: Seq[Column] =
    Seq(col("path"), col("start"), col("v_store"), col("e_store"), col("variables"))
}

package graft.store

import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import graft.Materialize.checkpoint
import graft.model.{GraphStore, Hashing, PropValue}

final case class NodeExistsException(id: String)
  extends RuntimeException(s"node $id allready exists") // message parity: kv_graph_store.rs Error::NodeExists

/** Driver-side graph builder with the reference's exact mutation semantics
  * (kv_graph_store.rs:531-752): NodeExists on duplicate create, edge identity
  * = content hash of (properties, n1, n2) so duplicates collapse, properties
  * content-addressed + deduplicated + reference-counted, delete_node leaves
  * incident edges dangling (parity, kv_graph_store.rs:584-602).
  *
  * Use for small/interactive graphs and fixtures; use [[BulkMutations]] for
  * DataFrame-scale ingest.
  */
final class GraphBatch {
  private val nodes = mutable.LinkedHashMap[String, String]()               // id -> prop hash
  private val edges = mutable.LinkedHashMap[String, (String, String, String)]() // edge id -> (src, dst, prop)
  private val props = mutable.LinkedHashMap[String, PropValue]()            // key -> value
  private val refs  = mutable.LinkedHashSet[(String, String)]()             // parent prop -> child prop

  def createNode(id: String, p: PropValue): String = {
    if (nodes.contains(id)) throw NodeExistsException(id)
    val h = createProperty(p)
    nodes(id) = h
    id
  }

  def createNode(p: PropValue): String =
    createNode(java.util.UUID.randomUUID().toString, p)

  def updateNode(id: String, p: PropValue): Unit = {
    val old = nodes.getOrElse(id, throw new NoSuchElementException(s"node $id"))
    val h = createProperty(p)
    nodes(id) = h
    gcIfOrphan(old)
  }

  /** Parity: does NOT delete incident edges (kv_graph_store.rs:584-602). */
  def deleteNode(id: String): Unit = {
    val old = nodes.remove(id).getOrElse(throw new NoSuchElementException(s"node $id"))
    gcIfOrphan(old)
  }

  /** Endpoints must exist (read_node fails in the reference,
    * kv_graph_store.rs:604-655); duplicate content dedups silently. */
  def createEdge(src: String, dst: String, p: PropValue): String = {
    require(nodes.contains(src), s"node $src does not exist")
    require(nodes.contains(dst), s"node $dst does not exist")
    val h = createProperty(p)
    val id = Hashing.edgeId(h, src, dst)
    edges(id) = (src, dst, h)
    id
  }

  def deleteEdge(id: String): Unit = {
    val (_, _, h) = edges.remove(id).getOrElse(throw new NoSuchElementException(s"edge $id"))
    gcIfOrphan(h)
  }

  /** Content-addressed upsert + recursive nested() store
    * (kv_graph_store.rs:710-734). Returns the property key. */
  def createProperty(p: PropValue): String = {
    val h = p.hash
    if (!props.contains(h)) props(h) = p
    p.nested.foreach { child =>
      val ch = createProperty(child)
      refs += ((h, ch))
    }
    h
  }

  /** Reference-count GC: a property with no remaining node/edge/parent-prop
    * backlink is deleted, recursively (kv_graph_store.rs:388-404, 736-752). */
  private def gcIfOrphan(h: String): Unit = {
    val referenced =
      nodes.valuesIterator.contains(h) ||
      edges.valuesIterator.exists(_._3 == h) ||
      refs.exists(_._2 == h)
    if (!referenced && props.contains(h)) {
      props.remove(h)
      val children = refs.filter(_._1 == h).toSeq
      refs --= children
      children.foreach { case (_, c) => gcIfOrphan(c) }
    }
  }

  def edgeIds: Seq[String] = edges.keys.toSeq
  def propKeys: Seq[String] = props.keys.toSeq
  def edge(id: String): Option[(String, String, String)] = edges.get(id)

  /** Storage-layout parity helper: the exact node record JSON the reference
    * writes (kv_graph_store.rs:791-820), adjacency derived from edges. */
  def nodeRecordJson(id: String): String = {
    val in = edges.collect { case (eid, (_, dst, _)) if dst == id => eid }.toSeq
    val out = edges.collect { case (eid, (src, _, _)) if src == id => eid }.toSeq
    Hashing.nodeJson(id, nodes(id), in, out)
  }

  def toStore(spark: SparkSession): GraphStore = {
    import spark.implicits._
    val v = nodes.toSeq.toDF("id", "prop_hash")
    val e = edges.toSeq.map { case (id, (s, d, p)) => (id, s, d, p) }
      .toDF("edge_id", "src", "dst", "prop_hash")
    val pr = props.toSeq.map { case (h, p) => (h, p.json, p.variant) }
      .toDF("hash", "value", "schema_type")
    val r = refs.toSeq.toDF("parent_hash", "child_hash")
    GraphStore(v, e, pr, r)
  }
}

/** DataFrame-scale mutations: batch-first, no per-row driver round trips.
  * Every check is a join. Every write to a store table is `add` (`old ∪`
  * a checkpointed delta) or `drop` (`old ⋉̸ keys`), so a write materializes
  * only its change, and a table's plan stays below a constant however many
  * batches the store takes without a save/load (SCALE.md, "Mutations").
  */
object BulkMutations {

  /** Plan leaves past which a write checkpoints the whole table: each write
    * adds its delta or key set as leaves, and each pending drop is an
    * anti-join that every read of the table runs again. */
  private val MaxLeaves = 8

  /** `table`, checkpointed whole once its plan has more than [[MaxLeaves]]
    * leaves. It is hash-partitioned on `key` first: a union's partitions
    * are the sum of its inputs', and a checkpoint of the bare union would
    * carry every delta's partitions into each later scan. */
  private def compact(table: DataFrame, key: Seq[String]): DataFrame =
    if (table.queryExecution.analyzed.collectLeaves().size <= MaxLeaves) table
    else checkpoint(table.repartition(key.map(col): _*))

  /** `old` plus the rows of `rows` whose `key` it lacks, deduplicated on
    * `key`, through [[append]]. */
  private[store] def add(old: DataFrame, rows: DataFrame, key: String*): DataFrame =
    append(old, rows.join(old, key, "left_anti").dropDuplicates(key), key)

  /** `old` plus `delta`, whose keys are unique and absent from `old`: one
    * delta, lazily checkpointed, which the first job that reads the table
    * scans whole. A delta's plan may read `old` again; unioned as a plan,
    * it would double the table's plan with every write. */
  private def append(old: DataFrame, delta: DataFrame, key: Seq[String]): DataFrame =
    compact(old.unionByName(
      checkpoint(delta.select(old.columns.map(col): _*), eager = false)), key)

  /** `old` without the rows whose `key` matches a row of `keys`. */
  private[store] def drop(old: DataFrame, keys: DataFrame, key: String*): DataFrame =
    compact(old.join(keys, key, "left_anti"), key)

  /** The least `id` of `rows`, if it has any: a probe that is one job
    * over every partition at once, folded on the driver. `limit(1)` would
    * scan the partitions in growing waves, a job each; `agg(min)` would
    * add an exchange, which AQE runs as a job of its own. */
  private def anyId(rows: DataFrame): Option[String] =
    Option(rows.select("id").as(Encoders.STRING).rdd
      .fold(null)((a, b) => if (a == null || (b != null && b < a)) b else a))

  /** Append nodes(id, prop_hash). Throws on any id collision with existing
    * nodes OR duplicate ids within the batch itself (NodeExists parity with
    * the reference's per-insert create_node, which raises on the second
    * occurrence), each detected via a single semi-join / groupBy probe.
    * Past the probes the batch is a valid delta as it stands, so it is
    * appended without [[add]]'s anti-join and dedup. */
  def createNodes(g: GraphStore, newNodes: DataFrame): GraphStore = {
    anyId(newNodes.groupBy("id").agg(count(lit(1)).as("__n")).where(col("__n") > 1))
      .foreach(id => throw NodeExistsException(id))
    anyId(newNodes.join(g.vertices, Seq("id"), "left_semi"))
      .foreach(id => throw NodeExistsException(id))
    g.copy(vertices = append(g.vertices, newNodes, Seq("id")))
  }

  /** Repoint existing nodes to new properties: `updates(id, prop_hash)`.
    * Fails naming a node that does not exist. The old properties stay until
    * [[gcOrphanProps]] sweeps them; the new ones must already be stored. */
  def updateNodes(g: GraphStore, updates: DataFrame): GraphStore = {
    val missing = anyId(updates.select("id").join(g.vertices, Seq("id"), "left_anti"))
    require(missing.isEmpty, s"node ${missing.get} does not exist")
    g.copy(vertices = add(drop(g.vertices, updates, "id"), updates, "id"))
  }

  /** Append properties(hash, value, schema_type) (+ refs), deduplicating by
    * content hash against existing rows — content-addressed upsert. */
  def createProperties(g: GraphStore, newProps: DataFrame,
                       newRefs: Option[DataFrame] = None): GraphStore =
    g.copy(props = add(g.props, newProps, "hash"),
      propRefs = newRefs.fold(g.propRefs)(add(g.propRefs, _, "parent_hash", "child_hash")))

  /** Store `values` with their `nested()` trees (kv_graph_store.rs:710-734):
    * one props row per distinct value, whose stored value is `stored(p)`
    * (by default its canonical JSON), and one prop_refs row per distinct
    * parent → child link. */
  private[graft] def createPropertyTrees(g: GraphStore, values: Seq[PropValue],
                                        stored: PropValue => String = _.json): GraphStore = {
    val all = values.flatMap(_.withNested)
    val refs = all.flatMap(p => p.nested.map(c => (p.hash, c.hash))).distinct
    val spark = g.props.sparkSession
    import spark.implicits._
    createProperties(g,
      all.map(p => (p.hash, stored(p), p.variant)).distinct.toDF("hash", "value", "schema_type"),
      if (refs.isEmpty) None else Some(refs.toDF("parent_hash", "child_hash")))
  }

  /** Store the raw-bytes property [[PropValue.raw]]`(value)`: its stored
    * value is `value` as given, not a JSON encoding. */
  def createRawProperty(g: GraphStore, value: String): GraphStore =
    createPropertyTrees(g, Seq(PropValue.raw(value)), _ => value)

  /** Append edges(src, dst, prop_hash); edge_id is derived column-level and
    * duplicates (same content) collapse. Endpoint existence enforced with
    * semi-joins, mirroring the reference's read_node failure. */
  def createEdges(g: GraphStore, newEdges: DataFrame): GraphStore = {
    val ids = g.vertices.select(col("id"))
    val valid = newEdges
      .join(ids.withColumnRenamed("id", "src"), Seq("src"), "left_semi")
      .join(ids.withColumnRenamed("id", "dst"), Seq("dst"), "left_semi")
    g.copy(edges = add(g.edges, valid.select(
      Hashing.edgeIdCol(col("prop_hash"), col("src"), col("dst")).as("edge_id"),
      col("src"), col("dst"), col("prop_hash")), "edge_id"))
  }

  /** Remove nodes by id; incident edges are left dangling (reference parity,
    * kv_graph_store.rs:584-602). Run [[gcOrphanProps]] afterwards to sweep. */
  def deleteNodes(g: GraphStore, ids: DataFrame): GraphStore =
    g.copy(vertices = drop(g.vertices, ids, "id"))

  def deleteEdges(g: GraphStore, edgeIds: DataFrame): GraphStore =
    g.copy(edges = drop(g.edges, edgeIds, "edge_id"))

  /** The reference's reference-counting GC (backlink delete cascade,
    * kv_graph_store.rs:736-752) as a delta sweep to the fixpoint: a prop
    * survives iff a vertex, an edge, or a ref whose parent survives
    * references it; a ref survives iff its parent survives.
    *
    * The backlinks (hash, parent) are materialized once: the props vertices
    * and edges hold, and the refs whose parent is a prop. Each round is one
    * action that materializes its orphans: round 1 the props without a
    * backlink, round r+1 the children of round r's orphans left without one.
    * Orphan sets scale with the deletions and never repeat a hash; rounds =
    * cascade depth + 1; prop_refs then drops the refs whose parent is no
    * surviving prop. All are local checkpoints the returned store reads
    * and releases with it; nothing enters the session's cache.
    */
  def gcOrphanProps(g: GraphStore): GraphStore = {
    var links = checkpoint(g.vertices.select("prop_hash").unionByName(g.edges.select("prop_hash"))
      .select(col("prop_hash").as("hash"), lit(null).cast("string").as("parent"))
      .unionByName(g.propRefs
        .join(g.props.select(col("hash").as("parent_hash")), Seq("parent_hash"), "left_semi")
        .select(col("child_hash").as("hash"), col("parent_hash").as("parent"))))
    var props = g.props
    // lazy: the round's count materializes it
    var dead = checkpoint(props.select("hash").join(links, Seq("hash"), "left_anti"), eager = false)
    while (dead.count() > 0) {
      val parents = dead.select(col("hash").as("parent"))
      val children = links.join(parents, Seq("parent"), "left_semi").select("hash")
      props = drop(props, dead, "hash")
      links = links.join(parents, Seq("parent"), "left_anti")
      dead = checkpoint(children.join(links, Seq("hash"), "left_anti"), eager = false)
    }
    // lazy: the first read of prop_refs scans it whole
    val orphanParents = checkpoint(g.propRefs.select("parent_hash")
      .join(props.select(col("hash").as("parent_hash")), Seq("parent_hash"), "left_anti"), eager = false)
    g.copy(props = props, propRefs = drop(g.propRefs, orphanParents, "parent_hash"))
  }

  /** CLI get_or_create semantics (cli_helpers.rs:118-174): if the property is
    * already referenced by exactly one node reuse it, zero -> create with a
    * fresh uuid, more than one -> error. */
  def getOrCreateNode(g: GraphStore, p: PropValue): (GraphStore, String) = {
    val h = p.hash
    val holders = g.vertices.where(col("prop_hash") === h).select("id").limit(2).collect()
    holders.length match {
      case 0 =>
        val id = java.util.UUID.randomUUID().toString
        val spark = g.vertices.sparkSession
        import spark.implicits._
        (createNodes(createPropertyTrees(g, Seq(p)), Seq((id, h)).toDF("id", "prop_hash")), id)
      case 1 => (g, holders.head.getString(0))
      case _ => throw new IllegalStateException(
        s"property $h is referenced by multiple nodes; refine the query")
    }
  }
}

package graft.store

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.Materialize.checkpoint
import graft.model.GraphStore

/** Store diff/sync — the reference's declared-but-dead VCS-sync surface
  * (`Change`/`ChangeSet`/`NodeChange`, kv_graph_store.rs:848-865) realized
  * as DataFrame set algebra. A change is computed with anti-joins (scales
  * as two scans + hash joins per table, no driver iteration) and applied
  * with anti-join + union upserts.
  *
  * Shape mirrors the reference: created/modified/deleted node sets, created/
  * deleted edge sets; `requiredProps` materializes the reference's
  * `depends_on` property-hash closure (the props a receiving store needs so
  * applying the change never dangles a prop_hash).
  */
final case class GraphChange(
    createdNodes: DataFrame,   // (id, prop_hash)
    modifiedNodes: DataFrame,  // (id, prop_hash) — same id, new property
    deletedNodes: DataFrame,   // (id, prop_hash)
    createdEdges: DataFrame,   // (edge_id, src, dst, prop_hash)
    deletedEdges: DataFrame,   // (edge_id, src, dst, prop_hash)
    requiredProps: DataFrame,  // (hash, value, schema_type) — depends_on closure
    requiredRefs: DataFrame)   // (parent_hash, child_hash) — nested() rows of the closure

object GraphChange {

  /** Diff two stores: what must happen to `from` to become `to`. */
  def diff(from: GraphStore, to: GraphStore): GraphChange = {
    val createdNodes = to.vertices.join(from.vertices.select("id"), Seq("id"), "left_anti")
    val deletedNodes = from.vertices.join(to.vertices.select("id"), Seq("id"), "left_anti")
    val modifiedNodes = to.vertices
      .join(from.vertices.withColumnRenamed("prop_hash", "__old"), Seq("id"))
      .where(col("prop_hash") =!= col("__old"))
      .select("id", "prop_hash")
    val createdEdges = to.edges.join(from.edges.select("edge_id"), Seq("edge_id"), "left_anti")
    val deletedEdges = from.edges.join(to.edges.select("edge_id"), Seq("edge_id"), "left_anti")
    val direct = createdNodes.select(col("prop_hash").as("hash"))
      .unionByName(modifiedNodes.select(col("prop_hash").as("hash")))
      .unionByName(createdEdges.select(col("prop_hash").as("hash")))
      .distinct()
    // depends_on closure as a delta sweep over the nested() DAG: each
    // frontier holds the children of the last one that no earlier frontier
    // reached, is checkpointed lazily, and is materialized by its
    // emptiness probe (one action per DAG level). A frontier never repeats
    // a hash, so the sweep ends at the DAG's depth, whatever that is.
    var seen = List.empty[DataFrame]
    var frontier = checkpoint(direct, eager = false)
    while (frontier.count() > 0) {
      seen ::= frontier
      frontier = checkpoint(to.propRefs
        .join(frontier.select(col("hash").as("parent_hash")), Seq("parent_hash"), "left_semi")
        .select(col("child_hash").as("hash")).distinct()
        .join(seen.reduce(_ unionByName _), Seq("hash"), "left_anti"), eager = false)
    }
    val all = (frontier :: seen).reduce(_ unionByName _)
    val requiredProps = to.props.join(all, Seq("hash"), "left_semi")
    val requiredRefs = to.propRefs
      .join(all.withColumnRenamed("hash", "parent_hash"), Seq("parent_hash"), "left_semi")
    GraphChange(createdNodes, modifiedNodes, deletedNodes,
      createdEdges, deletedEdges, requiredProps, requiredRefs)
  }

  /** Apply a change through the [[BulkMutations]] write path: deleted,
    * modified and created ids are dropped, then created and modified rows
    * added; required properties and their nested() refs upsert
    * content-addressed. Safe on a target that has DIVERGED from the diff's
    * `from`: created ids that already exist are replaced (the change's
    * version wins — id uniqueness holds and the result still converges
    * toward `to`). Run [[BulkMutations.gcOrphanProps]] afterwards to sweep
    * orphans left by deletions. */
  def apply(g: GraphStore, c: GraphChange): GraphStore = {
    import BulkMutations.{add, drop}
    val nodes = c.createdNodes.unionByName(c.modifiedNodes)
    BulkMutations.createProperties(g, c.requiredProps, Some(c.requiredRefs)).copy(
      vertices = add(drop(g.vertices, c.deletedNodes.unionByName(nodes), "id"), nodes, "id"),
      edges = add(drop(g.edges, c.deletedEdges.unionByName(c.createdEdges), "edge_id"),
        c.createdEdges, "edge_id"))
  }
}

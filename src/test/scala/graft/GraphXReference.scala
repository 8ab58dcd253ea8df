package graft

import org.apache.spark.graphx.{Edge, Graph => XGraph, PartitionStrategy, VertexId}
import org.apache.spark.graphx.lib.ShortestPaths
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.model.GraphStore

/** GraphX implementations of the whole-graph algorithms graft runs on its
  * DataFrame kernels — the parity oracle the analytics and curation specs
  * compare those kernels against. Test-only: no engine path uses GraphX.
  * Each function takes and returns what the kernel it checks does. */
object GraphXReference {

  /** `g` as a GraphX graph. `toLong` must be a deterministic,
    * collision-free mapping from the string vertex id to a long (GraphX
    * VertexId), so id-sensitive results (cc's min id per component) are
    * reproducible. */
  def toGraphX(g: GraphStore, toLong: Column => Column): XGraph[String, Int] = {
    val vRDD = longVerts(g, toLong).rdd.map(r => (r.getLong(0): VertexId, r.getString(1)))
    val eRDD = g.edges.select(toLong(col("src")), toLong(col("dst")))
      .rdd.map(r => Edge(r.getLong(0), r.getLong(1), 1))
    XGraph(vRDD, eRDD, defaultVertexAttr = null.asInstanceOf[String])
  }

  private def longVerts(g: GraphStore, toLong: Column => Column): DataFrame =
    g.vertices.select(toLong(col("id")).as("vid"), col("id"))

  /** (vid, value) pairs of a GraphX result joined back to string ids. */
  private def byId(g: GraphStore, toLong: Column => Column, vals: DataFrame): DataFrame =
    longVerts(g, toLong).join(vals, Seq("vid")).drop("vid")

  /** Connected components (undirected): (id, component), component = the
    * minimum long id in the component. */
  def connectedComponents(g: GraphStore, toLong: Column => Column): DataFrame = {
    val spark = g.vertices.sparkSession
    import spark.implicits._
    byId(g, toLong, toGraphX(g, toLong).connectedComponents().vertices.toDF("vid", "component"))
  }

  /** Static PageRank (numIter fixed iterations, resetProb 0.15): (id, rank). */
  def pageRank(g: GraphStore, toLong: Column => Column, numIter: Int = 10): DataFrame = {
    val spark = g.vertices.sparkSession
    import spark.implicits._
    byId(g, toLong, toGraphX(g, toLong).staticPageRank(numIter).vertices.toDF("vid", "rank"))
  }

  /** Hop counts following edge direction toward the landmarks:
    * (id, landmark, dist) per reachable landmark. */
  def shortestPaths(g: GraphStore, toLong: Column => Column, landmarks: Seq[Long]): DataFrame = {
    val spark = g.vertices.sparkSession
    import spark.implicits._
    byId(g, toLong, ShortestPaths.run(toGraphX(g, toLong), landmarks).vertices
      .flatMap { case (vid, dists) => dists.map { case (lm, d) => (vid, lm, d.toLong) } }
      .toDF("vid", "landmark", "dist"))
  }

  /** Per-vertex triangle count over the undirected simple graph:
    * (id, triangles: int). */
  def triangleCount(g: GraphStore, toLong: Column => Column): DataFrame = {
    val spark = g.vertices.sparkSession
    import spark.implicits._
    val graph = toGraphX(g, toLong).convertToCanonicalEdges()
      .partitionBy(PartitionStrategy.RandomVertexCut)
    byId(g, toLong, graph.triangleCount().vertices.toDF("vid", "triangles"))
  }

  /** Connected components over a pair list (a, b numeric ids): (id,
    * cluster) for every id in some pair, cluster = the minimum member id. */
  def dupClusters(pairs: DataFrame): DataFrame = {
    val spark = pairs.sparkSession
    import spark.implicits._
    val edges = pairs.select(col("a").cast("long"), col("b").cast("long"))
      .rdd.map(r => Edge(r.getLong(0), r.getLong(1), 1))
    XGraph.fromEdges(edges, defaultValue = 0).connectedComponents().vertices.toDF("id", "cluster")
  }
}

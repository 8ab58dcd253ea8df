package graft.io

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import graft.exec.{ZoeCompiler, ZoeResult}
import graft.model.{GraphStore, Hashing, PropValue}
import graft.ql.ZoeJson
import graft.store.BulkMutations

/** CLI parity with the reference's `gravitydb` binary (cli_helpers.rs:39-251):
  *
  *   graft.io.ZoeCli init <dbPath>          create an empty store layout
  *   graft.io.ZoeCli query <dbPath>         Zoe JSON on stdin -> JSON result
  *   graft.io.ZoeCli import <dbPath> <file> GraphML import
  *   graft.io.ZoeCli script <dbPath> <sql>  run a ;-separated SQL script over
  *                                          the graph views (the reference's
  *                                          lua `script` verb, with Spark SQL
  *                                          as the embedded language)
  *   graft.io.ZoeCli repl <dbPath>          interactive/piped SQL statements
  *                                          on stdin (reference `repl` verb)
  *   graft.io.ZoeCli explain <dbPath>       Zoe JSON on stdin -> formatted
  *                                          optimized Catalyst plan
  *   graft.io.ZoeCli export <dbPath> <fmt>  dot | graphml to stdout
  *
  * Result JSON shape follows the reference's QueryResult serialization:
  * {"vertices":[[id,null],...],"edges":[...],"paths":[[start,[[v,e]..],end],...]}.
  */
object ZoeCli {

  def main(args: Array[String]): Unit = {
    val spark = graft.GraftSession(sys.env.getOrElse("SPARK_MASTER", "local[4]"),
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt, appName = "graft-cli")
    // graft_dot / graft_cosine available in the script/repl SQL verbs
    graft.functions.GraftExtensions.register(spark)
    try run(spark, args.toList)
    finally spark.stop()
  }

  def run(spark: SparkSession, args: List[String]): Unit = args match {
    case "init" :: path :: Nil =>
      GraphStore.empty(spark).save(path)
      println(s"initialized empty graph store at $path")
    case "query" :: path :: Nil =>
      val g = GraphStore.load(spark, path)
      val json = readStdin()
      val q = ZoeJson.parse(json)
      println(renderResult(new ZoeCompiler(g).run(q)))
    // explain: the optimized Catalyst plan a Zoe query compiles to — the
    // debuggability surface a declarative engine owes its users (the
    // reference interprets eagerly and has no plan to show)
    case "explain" :: path :: Nil =>
      val g = GraphStore.load(spark, path)
      val q = ZoeJson.parse(readStdin())
      val r = new ZoeCompiler(g).run(q)
      val df = q match {
        case graft.ql.BasicQuery.P(_) => r.properties
        case graft.ql.BasicQuery.E(_) => r.edges
        case _                        => r.vertices
      }
      println(df.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted")))
    // script/repl (cli_helpers.rs:225-234): the reference embeds Lua; here
    // the embedded query language is Spark SQL over the graft_* graph views
    // (TypedViews.registerViews) — same role, declarative + distributed.
    case "script" :: path :: file :: Nil =>
      val g = GraphStore.load(spark, path)
      graft.model.TypedViews.registerViews(g)
      CliLimits.splitSql(scala.io.Source.fromFile(file).mkString)
        .foreach(stmt => runSql(spark, stmt))
    // Lua-compat migration path: the reference's documented Lua builder
    // subset runs unmodified (translator, not interpreter — LuaCompat)
    case "script" :: path :: "--lua" :: file :: Nil =>
      LuaCompat.run(spark, path, scala.io.Source.fromFile(file).mkString)
    // Lua-compat repl (reference lua_repl parity): line-based, one
    // persistent session, per-line errors don't kill the loop
    case "repl" :: path :: "--lua" :: Nil =>
      LuaCompat.repl(spark, path,
        Iterator.continually(Console.in.readLine()).takeWhile(_ != null))
    case "repl" :: path :: Nil =>
      val g = GraphStore.load(spark, path)
      graft.model.TypedViews.registerViews(g)
      // statements are quote-aware-split on ';' and each evaluated in its
      // own try so one bad statement never kills the session
      CliLimits.splitSql(readStdin()).foreach { stmt =>
        try runSql(spark, stmt)
        catch { case e: Exception => System.err.println(s"error: ${e.getMessage}") }
      }
    // export to interchange formats (reference design intent,
    // docs/gravity.adoc:102-238 — TODO stubs there, implemented here)
    case "export" :: path :: fmt :: Nil =>
      val g = GraphStore.load(spark, path)
      fmt match {
        case "dot"     => println(GraphExport.toDot(g))
        case "graphml" => println(GraphExport.toGraphML(g))
        case other     => sys.error(s"unknown export format: $other (dot|graphml)")
      }
    case "import" :: path :: file :: Nil =>
      val xml = scala.io.Source.fromFile(file).mkString
      val res = GraphML.importString(xml)
      res.batch.toStore(spark).save(path)
      println(res.idMapping.map { case (k, v) => s"$k -> $v" }.mkString("\n"))
    // property-id: content hash of the property bytes on stdin
    // (cli_helpers.rs property-id verb)
    case "property-id" :: Nil =>
      println(graft.model.Hashing.sha256HexUpper(readStdin()))
    // property-blob: canonical serialized bytes (identity for raw input)
    case "property-blob" :: Nil =>
      print(readStdin())
    // create-node [--id <id> | --update <id> | --get-or-create] with the raw
    // property from stdin; prints the node id (cli_helpers.rs create-node
    // flag set: --id/--create-id/--update/--get-or-create)
    case "create-node" :: path :: rest =>
      val value = readStdin()
      val g = GraphStore.load(spark, path)
      rest match {
        case "--get-or-create" :: Nil =>
          val (g2, id) = getOrCreateNode(g, value)
          g2.save(path)
          println(id)
        case "--update" :: id :: Nil =>
          updateNode(g, id, value).save(path)
          println(id)
        case flags =>
          val id = flags match {
            case "--id" :: v :: Nil => v
            case Nil                => java.util.UUID.randomUUID().toString
            case other => sys.error(s"unknown create-node args: $other")
          }
          createNode(g, id, value).save(path)
          println(id)
      }
    case "delete-node" :: path :: "--id" :: id :: Nil =>
      deleteNode(GraphStore.load(spark, path), id).save(path)
      println(s"deleted $id")
    // create-edge --out <srcId> --in <dstId>, property from stdin; prints
    // the edge hash
    case "create-edge" :: path :: "--out" :: src :: "--in" :: dst :: Nil =>
      val (g, id) = createEdge(GraphStore.load(spark, path), src, dst, readStdin())
      g.save(path)
      println(id)
    case other =>
      System.err.println(
        s"""unknown arguments: ${other.mkString(" ")}
           |usage:
           |  init <dbPath>
           |  query <dbPath>                      (stdin: Zoe JSON)
           |  import <dbPath> <graphml>
           |  export <dbPath> dot|graphml
           |  script <dbPath> <sqlFile>           (;-separated SQL over graft_* views)
           |  script <dbPath> --lua <luaFile>     (reference Lua builder subset)
           |  repl <dbPath> --lua                 (stdin: line-based Lua-compat repl)
           |  repl <dbPath>                       (stdin: ;-separated SQL)
           |  property-id                         (stdin: property bytes)
           |  property-blob                       (stdin: property bytes)
           |  create-node <dbPath> [--id <id>]    (stdin: property bytes)
           |  delete-node <dbPath> --id <id>
           |  create-edge <dbPath> --out <src> --in <dst>  (stdin: property bytes)""".stripMargin)
      sys.exit(2)
  }

  // ---- mutation verbs, shared with LuaCompat's db:* methods ----
  // Each stores its value as a raw property (PropValue.raw: kept as given)
  // and returns the changed store; deletes and updates sweep the properties
  // they orphan.

  /** Node `id` holding the raw property `value`. */
  private[io] def createNode(g: GraphStore, id: String, value: String): GraphStore =
    BulkMutations.createNodes(BulkMutations.createRawProperty(g, value),
      row(g, "id" -> id, "prop_hash" -> PropValue.raw(value).hash))

  /** The one node holding `value` if there is one, else a new node with a
    * fresh id (cli_helpers.rs:118-174); fails if several hold it. */
  private[io] def getOrCreateNode(g: GraphStore, value: String): (GraphStore, String) =
    BulkMutations.getOrCreateNode(BulkMutations.createRawProperty(g, value), PropValue.raw(value))

  /** Repoint node `id` to `value`; fails with "node `id` does not exist". */
  private[io] def updateNode(g: GraphStore, id: String, value: String): GraphStore =
    BulkMutations.gcOrphanProps(BulkMutations.updateNodes(BulkMutations.createRawProperty(g, value),
      row(g, "id" -> id, "prop_hash" -> PropValue.raw(value).hash)))

  /** Drop node `id`; its edges stay, dangling (kv_graph_store.rs:584-602). */
  private[io] def deleteNode(g: GraphStore, id: String): GraphStore =
    BulkMutations.gcOrphanProps(BulkMutations.deleteNodes(g, row(g, "id" -> id)))

  /** Edge src → dst holding `value`, with its content-hash id. */
  private[io] def createEdge(g: GraphStore, src: String, dst: String,
                             value: String): (GraphStore, String) = {
    val hash = PropValue.raw(value).hash
    (BulkMutations.createEdges(BulkMutations.createRawProperty(g, value),
      row(g, "src" -> src, "dst" -> dst, "prop_hash" -> hash)), Hashing.edgeId(hash, src, dst))
  }

  private[io] def deleteEdge(g: GraphStore, edgeId: String): GraphStore =
    BulkMutations.gcOrphanProps(BulkMutations.deleteEdges(g, row(g, "edge_id" -> edgeId)))

  /** A one-row frame of string columns, given as (name, value). */
  private def row(g: GraphStore, cols: (String, String)*): DataFrame =
    g.vertices.sparkSession.createDataFrame(java.util.List.of(Row(cols.map(_._2): _*)),
      StructType(cols.map(c => StructField(c._1, StringType))))

  /** Evaluate one SQL statement and print the result as JSON lines (guarded
    * by the same driver-side row limit as renderResult). */
  private def runSql(spark: SparkSession, stmt: String): Unit = {
    val df = spark.sql(stmt)
    val max = CliLimits.maxResultRows
    val rows = df.toJSON.limit(max + 1).collect()
    require(rows.length <= max,
      s"result exceeds $max rows; add a LIMIT or raise GRAFT_MAX_RESULT_ROWS")
    rows.foreach(println)
  }

  /** Read all of stdin via Console.in (redirectable in tests via
    * Console.withIn, defaults to System.in). */
  private def readStdin(): String =
    Iterator.continually(Console.in.read()).takeWhile(_ != -1).map(_.toChar).mkString

  /** Reference QueryResult JSON: vertices/edges as [id, propId] pairs (propId
    * always null, ql.rs:407), paths as [start, [[v,e]...], end]. Collects to
    * the driver (wire-format parity with the reference CLI) behind the
    * GRAFT_MAX_RESULT_ROWS guard. */
  def renderResult(r: ZoeResult): String = {
    def s(x: String) = graft.model.PropValue.jsonString(x)
    def optS(x: String) = if (x == null) "null" else s(x)
    val max = CliLimits.maxResultRows
    def guarded(df: org.apache.spark.sql.DataFrame, what: String) = {
      val rows = df.limit(max + 1).collect()
      require(rows.length <= max,
        s"$what result exceeds $max rows; raise GRAFT_MAX_RESULT_ROWS or narrow the query")
      rows
    }
    val vs = guarded(r.vertices, "vertices").map(row => s"[${s(row.getString(0))},null]").sorted
    val es = guarded(r.edges, "edges").map(row => s"[${s(row.getString(0))},null]").sorted
    val ps = guarded(r.paths, "paths").map { row =>
      val start = optS(if (row.isNullAt(0)) null else row.getString(0))
      val hops = row.getSeq[org.apache.spark.sql.Row](1)
        .map(h => s"[${s(h.getString(0))},${s(h.getString(1))}]").mkString("[", ",", "]")
      val end = optS(if (row.isNullAt(2)) null else row.getString(2))
      s"[$start,$hops,$end]"
    }.sorted
    val vars = r.variables.collect()
      .map(row => s"${s(row.getString(0))}:${s(row.getString(1))}").sorted
    s"""{"vertices":[${vs.mkString(",")}],"edges":[${es.mkString(",")}],"paths":[${ps.mkString(",")}],"variables":{${vars.mkString(",")}}}"""
  }
}

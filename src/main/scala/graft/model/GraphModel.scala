package graft.model

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.Materialize.persist

/** Content-addressed hashing, matching the reference's key scheme:
  * uppercase-hex SHA-256 of the serialized bytes
  * (reference: kv_graph_store.rs:832-835 `format!("{:X}")`, schema.rs:62-83).
  */
object Hashing {
  def sha256HexUpper(bytes: Array[Byte]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    md.digest(bytes).map("%02X".format(_)).mkString
  }

  def sha256HexUpper(s: String): String =
    sha256HexUpper(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))

  /** Canonical JSON of an edge record; field order is significant because the
    * edge's identity is the hash of these bytes
    * (reference: kv_graph_store.rs:823-847 EdgeData serialization). Node ids
    * are JSON-escaped so ids containing quotes/backslashes still serialize to
    * well-formed JSON matching the reference's serde output. */
  def edgeJson(propHash: String, src: String, dst: String): String =
    s"""{"properties":"$propHash","n1":${PropValue.jsonString(src)},"n2":${PropValue.jsonString(dst)}}"""

  /** Edge identity = content hash of the edge record: equal (prop, src, dst)
    * collapse into one edge (reference: kv_graph_store.rs:832-835). */
  def edgeId(propHash: String, src: String, dst: String): String =
    sha256HexUpper(edgeJson(propHash, src, dst))

  /** Canonical JSON of a node record (reference: kv_graph_store.rs:791-820;
    * adjacency sets are sorted). Only needed for storage-layout parity —
    * the Spark model keeps adjacency normalized in the edges table. */
  def nodeJson(id: String, propHash: String,
               incoming: Seq[String], outgoing: Seq[String]): String = {
    def arr(xs: Seq[String]) = xs.sorted.map(PropValue.jsonString).mkString("[", ",", "]")
    s"""{"id":${PropValue.jsonString(id)},"properties":"$propHash","incoming":${arr(incoming)},"outgoing":${arr(outgoing)}}"""
  }

  /** JSON string escaping at column level — byte-identical to
    * [[PropValue.jsonString]] (backslash, quote, the serde_json short
    * escapes \b/\t/\n/\f/\r, then \u00xx for the remaining control chars),
    * so the distributed edge-id path and the
    * driver-side GraphBatch path assign the SAME content hash to the same
    * logical edge for every id. The full escape chain only runs on rows
    * that actually contain a special character (one `rlike` guard); clean
    * ids — the overwhelming hot path — pass through untouched. */
  private def jsonEscapeCol(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val basic = regexp_replace(regexp_replace(c, "\\\\", "\\\\\\\\"), "\"", "\\\\\"")
    val full = (0x00 until 0x20).foldLeft(basic) { (acc, i) =>
      val repl = i match {
        case 0x08 => "\\\\b"
        case 0x09 => "\\\\t"
        case 0x0a => "\\\\n"
        case 0x0c => "\\\\f"
        case 0x0d => "\\\\r"
        case _    => f"\\\\u$i%04x"
      }
      regexp_replace(acc, f"\\x$i%02x", repl)
    }
    when(c.rlike("[\\x00-\\x1f\"\\\\]"), full).otherwise(c)
  }

  /** Column-level edge id for distributed edge creation; identical bytes to
    * [[edgeJson]] for all ids (control characters included). */
  def edgeIdCol(propHash: org.apache.spark.sql.Column,
                src: org.apache.spark.sql.Column,
                dst: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    upper(sha2(concat(
      lit("{\"properties\":\""), propHash,
      lit("\",\"n1\":\""), jsonEscapeCol(src),
      lit("\",\"n2\":\""), jsonEscapeCol(dst), lit("\"}")), 256))
}

/** A property value in the reference's model: an externally-tagged enum
  * variant with optional payload, plus the nested property tree used as a
  * lightweight type system (reference: schema.rs:3-28, `nested()`).
  *
  * `key` defaults to the content hash but can be overridden for orderable
  * custom keys (reference: docs/tutorials/designing_a_schema.adoc:292-311). */
final case class PropValue(
    variant: String,
    payload: Option[String] = None,
    nested: Seq[PropValue] = Nil,
    customKey: Option[String] = None) {

  /** serde-compatible externally-tagged JSON: unit variant -> `"V"`,
    * newtype variant -> `{"V":"payload"}`. */
  def json: String = payload match {
    case Some(p) => s"""{"$variant":${PropValue.jsonString(p)}}"""
    case None    => s""""$variant""""
  }

  def hash: String = customKey.getOrElse(Hashing.sha256HexUpper(json))

  /** This value plus its transitive nested tree, parent-first. */
  def withNested: Seq[PropValue] = this +: nested.flatMap(_.withNested)
}

object PropValue {
  def jsonString(s: String): String =
    "\"" + s.flatMap {
      case '"'          => "\\\""
      case '\\'         => "\\\\"
      case '\b'         => "\\b" // serde_json short escapes (ser.rs ESCAPE
      case '\f'         => "\\f" // table): parity for content hashes
      case '\n'         => "\\n"
      case '\r'         => "\\r"
      case '\t'         => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c            => c.toString
    } + "\""

  /** Schema-style constructor: a variant that nests SchemaType(variant),
    * matching the reference's `#[derive(Schema)]` expansion
    * (gravitydb_derive/src/lib.rs:10-94). */
  def typed(variant: String, payload: Option[String] = None): PropValue =
    PropValue(variant, payload, Seq(schemaType(variant)))

  def schemaType(label: String): PropValue = PropValue("SchemaType", Some(label))

  /** Raw-bytes property (reference GenericProperty, schema.rs:88-115): the
    * key is the content hash of the bytes as-is. */
  def raw(value: String): PropValue =
    PropValue("Raw", Some(value), Nil, Some(Hashing.sha256HexUpper(value)))
}

/** The four graph tables. Everything is a plain DataFrame so Catalyst can
  * push filters/prune columns; adjacency is normalized (derivable from
  * `edges`), unlike the reference's denormalized per-node sets
  * (kv_graph_store.rs:23-46) which Spark does not need.
  *
  *  - vertices(id, prop_hash)
  *  - edges(edge_id, src, dst, prop_hash)
  *  - props(hash, value /*canonical json*/, schema_type)
  *  - prop_refs(parent_hash, child_hash)  — the `nested()` DAG
  */
final case class GraphStore(
    vertices: DataFrame,
    edges: DataFrame,
    props: DataFrame,
    propRefs: DataFrame) {

  def persistAll(): GraphStore =
    GraphStore(persist(vertices), persist(edges), persist(props), persist(propRefs))

  /** Persist the four tables. Writes stage into `<name>._tmp` and swap in
    * afterwards, so saving a store whose plans READ from the same path
    * (load-mutate-save) never deletes its own input mid-plan. */
  def save(path: String): Unit = {
    val spark = vertices.sparkSession
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(path), spark.sparkContext.hadoopConfiguration)
    val tables = Seq(vertices -> "vertices", edges -> "edges",
      props -> "props", propRefs -> "prop_refs")
    // stage ALL writes first: any table's plan may read any old directory
    tables.foreach { case (df, name) =>
      df.write.mode("overwrite").parquet(s"$path/$name._tmp")
    }
    tables.foreach { case (_, name) =>
      val tmp = new org.apache.hadoop.fs.Path(s"$path/$name._tmp")
      val dst = new org.apache.hadoop.fs.Path(s"$path/$name")
      if (fs.exists(dst)) fs.delete(dst, true)
      fs.rename(tmp, dst)
      // the swap happens outside Spark: a cached relation over this path
      // (an earlier load + persistAll) would otherwise keep serving the
      // old files to every later load of the path
      spark.catalog.refreshByPath(dst.toString)
    }
  }
}

object GraphStore {
  val verticesSchema: StructType = StructType(Seq(
    StructField("id", StringType, nullable = false),
    StructField("prop_hash", StringType, nullable = false)))
  val edgesSchema: StructType = StructType(Seq(
    StructField("edge_id", StringType, nullable = false),
    StructField("src", StringType, nullable = false),
    StructField("dst", StringType, nullable = false),
    StructField("prop_hash", StringType, nullable = false)))
  val propsSchema: StructType = StructType(Seq(
    StructField("hash", StringType, nullable = false),
    StructField("value", StringType, nullable = false),
    StructField("schema_type", StringType, nullable = true)))
  val propRefsSchema: StructType = StructType(Seq(
    StructField("parent_hash", StringType, nullable = false),
    StructField("child_hash", StringType, nullable = false)))

  def empty(spark: SparkSession): GraphStore = GraphStore(
    spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], verticesSchema),
    spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], edgesSchema),
    spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], propsSchema),
    spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], propRefsSchema))

  /** Persist the store as BUCKETED tables (vertices by id, edges by src,
    * props by hash, prop_refs by parent_hash) in the session catalog — the
    * 100 TB layout from SCALE.md: traversal hop/semi joins on the bucket
    * keys then co-locate without a shuffle exchange. Requires a catalog
    * (bucketing metadata lives there); `tablePrefix` names the tables. */
  def saveBucketed(g: GraphStore, buckets: Int, tablePrefix: String = "graft_b_"): GraphStore = {
    def write(df: DataFrame, name: String, key: String): DataFrame = {
      val table = s"$tablePrefix$name"
      df.write.mode("overwrite")
        .bucketBy(buckets, key).sortBy(key)
        .saveAsTable(table)
      df.sparkSession.table(table)
    }
    GraphStore(
      write(g.vertices, "vertices", "id"),
      write(g.edges, "edges", "src"),
      write(g.props, "props", "hash"),
      write(g.propRefs, "prop_refs", "parent_hash"))
  }

  /** Open a saved store; mirrors the reference's layout check on open
    * (backend_filestore/src/lib.rs:64-101). */
  def load(spark: SparkSession, path: String): GraphStore = {
    // resolve the filesystem from the path URI (hdfs://, s3a://, file:) the
    // same way save() does — a java.io.File check would reject every
    // non-local store
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(path), spark.sparkContext.hadoopConfiguration)
    val dirs = Seq("vertices", "edges", "props", "prop_refs")
    val missing = dirs.filterNot(d => fs.exists(new org.apache.hadoop.fs.Path(s"$path/$d")))
    require(missing.isEmpty, s"malformed graph store at $path: missing ${missing.mkString(",")}")
    GraphStore(
      spark.read.schema(verticesSchema).parquet(s"$path/vertices"),
      spark.read.schema(edgesSchema).parquet(s"$path/edges"),
      spark.read.schema(propsSchema).parquet(s"$path/props"),
      spark.read.schema(propRefsSchema).parquet(s"$path/prop_refs"))
  }
}

package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Materialize.persist
import graft.model.{GraphStore, Hashing, PropValue}

/** Deterministic property graph derived from the TPC-H-ish testdata, used by
  * the driver-facing query inventory (SparkEntry). The mapping mirrors the
  * reference's data model (SURVEY.md §1): every element owns one
  * content-addressed property; typed variants nest SchemaType labels into
  * prop_refs; edges are identified by the content hash of
  * (properties, src, dst).
  *
  * Vertices                         Edges
  *   region:<key>   Region(name)     customer -InNation->  nation
  *   nation:<key>   Nation(name)     supplier -InNation->  nation
  *   customer:<key> Customer(name)   nation   -InRegion->  region
  *   supplier:<key> Supplier(name)   customer -InSegment-> segment
  *   part:<key>     Part(name)*      order    -PlacedBy->  customer
  *   order:<key>    Order(priority)
  *   segment:<seg>  Segment(seg)
  *
  * (*) part properties use a custom orderable key `psz_<size>_<partkey>`
  * instead of the content hash, the reference's custom-get_key pattern for
  * range queries (docs/tutorials/designing_a_schema.adoc:292-311).
  *
  * Scale notes: vertex/edge construction is narrow (no shuffle); the only
  * shuffles are dropDuplicates on the small property dimensions. Everything
  * downstream joins on id/prop_hash, which Catalyst can broadcast for the
  * dimension side.
  */
object TpchGraph {

  /** Built graphs are memoized per (session, dir) and their four tables
    * persisted + materialized: the construction tree (multi-table unions +
    * dropDuplicates shuffles) is evaluated once, and every downstream query
    * plan references the compact InMemoryRelation instead of re-embedding
    * the whole union subtree per use site — without this, traversal plans
    * that touch vertices/props many times blow up Catalyst/AQE planning
    * time multiplicatively. */
  def build(spark: SparkSession, dir: String): GraphStore = graphs(spark, dir)

  /** Canonical event-time contract: a `ts` column is ALWAYS long
    * nanoseconds-since-epoch downstream of this boundary, regardless of how
    * the parquet stores it. The driver's testdata has shipped BOTH physical
    * shapes across rounds — int64 nanoseconds (readable only behind
    * `spark.sql.legacy.parquet.nanosAsLong`) and `timestamp[us]` (read as
    * TIMESTAMP_NTZ) — and round 8 proved that letting the physical type leak
    * breaks every query doing integer ts arithmetic. Normalizing ONCE here
    * means query code never branches on representation.
    *
    * The NTZ→timestamp cast interprets wall-clock in the session timezone;
    * every graft entry point (Bench/Verify/ZoeCli/tests) pins
    * spark.sql.session.timeZone=UTC, so the stored micros pass through
    * unchanged and match DuckDB's `epoch_ns(ts)` oracle exactly. */
  private def canonicalTs(df: DataFrame): DataFrame =
    df.schema.find(_.name == "ts").map(_.dataType) match {
      case None | Some(org.apache.spark.sql.types.LongType) => df
      case Some(_) => // timestamp[us]/[ms], TZ or NTZ → long nanoseconds
        df.withColumn("ts",
          unix_micros(col("ts").cast(org.apache.spark.sql.types.TimestampType)) * lit(1000L))
    }

  /** Base-table read, memoized per session. The driver-generated testdata is
    * one parquet file with ONE row group per table, which pins every scan —
    * and all narrow stages after it — to a single task; a real 100 TB input
    * arrives as many splits and parallelizes naturally. When the scan yields
    * fewer splits than the session's parallelism, repartition once and keep
    * the parallel copy cached for the session's query stream. */
  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    tables(spark, dir, name)

  private val tables = Memo.keyed[String, DataFrame]("base_table", Memo.Fixture) { (spark, dir, name) =>
    val raw = canonicalTs(spark.read.parquet(s"$dir/$name.parquet"))
    val target = spark.sparkContext.defaultParallelism
    persist(if (raw.rdd.getNumPartitions < target) raw.repartition(target) else raw,
      fill = true)
  }

  /** The base tables the graph mapping reads. */
  val graphBaseTables: Seq[String] =
    Seq("region", "nation", "customer", "supplier", "part", "orders")

  private val graphs = Memo("tpch_graph", Memo.Fixture) { (spark, dir) =>
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration.Duration
    // warm the base tables concurrently (table() is single-eval per key,
    // so this also coalesces with any warms already in flight)
    graphBaseTables.map(n => Future(table(spark, dir, n)))
      .foreach(Await.result(_, Duration.Inf))
    val raw = rawBuild(spark, dir)
    // The union-built tables inherit the SUM of their branches' partitions
    // (7 branches x 32 = 224 for vertices), and broadcast joins preserve
    // the left side's partitioning — so traversal chains accumulate
    // thousands of micro-tasks of pure scheduling overhead. Re-key each
    // table to the session parallelism before caching (at cluster scale
    // the same repartition doubles as the bucketing write, SCALE.md).
    val n = spark.sparkContext.defaultParallelism
    val g = GraphStore(
      raw.vertices.repartition(n, col("id")),
      raw.edges.repartition(n, col("src")),
      raw.props.repartition(n, col("hash")),
      raw.propRefs.repartition(n, col("parent_hash"))).persistAll()
    // force materialization (concurrently) so every query reuses the
    // cached tables
    val mats = Seq(g.vertices, g.edges, g.props, g.propRefs)
      .map(t => Future(t.count()))
    mats.foreach(Await.result(_, Duration.Inf))
    g
  }

  /** {"Variant":"<payload>"} built column-level; payloads here are TPC-H
    * identifiers/names which contain no JSON-special characters. */
  def variantJson(variant: String, payload: Column): Column =
    concat(lit(s"""{"$variant":""""), payload, lit("\"}"))

  def contentHash(json: Column): Column = upper(sha2(json, 256))

  def stHash(variant: String): String = PropValue.schemaType(variant).hash
  def unitHash(variant: String): String = PropValue(variant).hash

  val partKeyCol: Column =
    format_string("psz_%03d_%d", col("p_size"), col("p_partkey"))

  private def rawBuild(spark: SparkSession, dir: String): GraphStore = {
    // build from the memoized base tables: the driver testdata is one row
    // group per file, so a direct parquet read is a single task PER UNION
    // BRANCH (customer is scanned 3×) — the cached, repartitioned copies
    // give every branch 32-way in-memory scans and read each file once for
    // both the graph build and the relational query path
    def t(n: String) = table(spark, dir, n)
    val region = t("region"); val nation = t("nation"); val customer = t("customer")
    val supplier = t("supplier"); val part = t("part"); val orders = t("orders")

    def vtx(prefix: String, key: Column, propHash: Column): DataFrame => DataFrame =
      df => df.select(concat(lit(prefix + ":"), key.cast("string")).as("id"), propHash.as("prop_hash"))

    val regionV = vtx("region", col("r_regionkey"), contentHash(variantJson("Region", col("r_name"))))(region)
    val nationV = vtx("nation", col("n_nationkey"), contentHash(variantJson("Nation", col("n_name"))))(nation)
    val customerV = vtx("customer", col("c_custkey"), contentHash(variantJson("Customer", col("c_name"))))(customer)
    val supplierV = vtx("supplier", col("s_suppkey"), contentHash(variantJson("Supplier", col("s_name"))))(supplier)
    val partV = vtx("part", col("p_partkey"), partKeyCol)(part)
    val orderV = vtx("order", col("o_orderkey"), contentHash(variantJson("Order", col("o_orderpriority"))))(orders)
    val segmentV = customer.select(col("c_mktsegment")).distinct()
      .select(concat(lit("segment:"), col("c_mktsegment")).as("id"),
        contentHash(variantJson("Segment", col("c_mktsegment"))).as("prop_hash"))

    val vertices = Seq(regionV, nationV, customerV, supplierV, partV, orderV, segmentV)
      .reduce(_ unionByName _)

    def propRows(df: DataFrame, variant: String, payload: Column,
                 key: Option[Column] = None): DataFrame = {
      val json = variantJson(variant, payload)
      df.select(key.getOrElse(contentHash(json)).as("hash"),
          json.as("value"), lit(variant).as("schema_type"))
    }

    val typedProps = Seq(
      propRows(region, "Region", col("r_name")),
      propRows(nation, "Nation", col("n_name")),
      propRows(customer, "Customer", col("c_name")),
      propRows(supplier, "Supplier", col("s_name")),
      propRows(part, "Part", col("p_name"), Some(partKeyCol)),
      propRows(orders, "Order", col("o_orderpriority")),
      propRows(customer.select(col("c_mktsegment")).distinct(), "Segment", col("c_mktsegment")))

    val edgeVariants = Seq("InNation", "InRegion", "InSegment", "PlacedBy")
    val vertexVariants = Seq("Region", "Nation", "Customer", "Supplier", "Part", "Order", "Segment")

    // the unit + SchemaType property rows are driver-side constants — ONE
    // LocalRelation instead of 26 parsed one-row SELECTs unioned together
    // (measurably cheaper to analyze, identical rows)
    import spark.implicits._
    val constProps = (
      edgeVariants.map { v => (PropValue(v).hash, PropValue(v).json, v) } ++
      (edgeVariants ++ vertexVariants).map { v =>
        val p = PropValue.schemaType(v); (p.hash, p.json, "SchemaType")
      }).toDF("hash", "value", "schema_type")
    // ONE hash-dedup over the whole typed union (content-addressed rows with
    // equal payloads collapse) instead of a shuffle per source branch; the
    // constant rows are distinct by construction and cannot collide with
    // content hashes
    val props = typedProps.reduce(_ unionByName _).dropDuplicates("hash")
      .unionByName(constProps)

    // nested() lattice: every typed/unit prop references SchemaType("<Variant>")
    // — a single projection through the variant -> SchemaType-hash map
    // instead of 11 filtered re-scans of the props union
    val stMap = (edgeVariants ++ vertexVariants).map(v => v -> stHash(v)).toMap
    val propRefs = props.where(col("schema_type") =!= "SchemaType")
      .select(col("hash").as("parent_hash"),
        element_at(typedLit(stMap), col("schema_type")).as("child_hash"))

    def edge(df: DataFrame, srcPrefix: String, srcKey: Column,
             dstPrefix: String, dstKey: Column, variant: String): DataFrame = {
      val src = concat(lit(srcPrefix + ":"), srcKey.cast("string"))
      val dst = concat(lit(dstPrefix + ":"), dstKey.cast("string"))
      val ph = lit(unitHash(variant))
      df.select(Hashing.edgeIdCol(ph, src, dst).as("edge_id"),
        src.as("src"), dst.as("dst"), ph.as("prop_hash"))
    }

    val edges = Seq(
      edge(customer, "customer", col("c_custkey"), "nation", col("c_nationkey"), "InNation"),
      edge(supplier, "supplier", col("s_suppkey"), "nation", col("s_nationkey"), "InNation"),
      edge(nation, "nation", col("n_nationkey"), "region", col("n_regionkey"), "InRegion"),
      edge(customer, "customer", col("c_custkey"), "segment", col("c_mktsegment"), "InSegment"),
      edge(orders, "order", col("o_orderkey"), "customer", col("o_custkey"), "PlacedBy"))
      .reduce(_ unionByName _)

    GraphStore(vertices, edges, props, propRefs)
  }
}

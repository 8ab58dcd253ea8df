package graftbench

import scala.collection.mutable
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.functions._
import graft.TpchGraph
import graft.analytics.GraphAnalytics
import graft.exec.ZoeCompiler
import graft.model.{GraphStore, PropValue}
import graft.pipeline.{ConnectedComponents, Curation, Dedup, TextAnalysis}
import graft.ql.ZoeJson
import graft.store.BulkMutations

/** The outcome of one op: its kind and a check that runs after the timed
  * loop, comparing what graft returned with the twin's expectation. */
final case class Outcome(kind: String, check: () => Boolean)

/** A closed-loop workload: set up once, then op 0, 1, 2, ... until the
  * run's time is up and the current cycle of ops is complete. */
trait Workload {
  /** The loop only stops at a multiple of this many ops, so every run
    * covers the workload's whole op mix. */
  def cycle: Int = 1
  def setup(spark: SparkSession, seed: Long, dir: String): Unit
  def op(i: Int): Outcome
  /** Untimed ops between the set-up and the loop, counted in `setup_s`:
    * they let the JIT and Spark's code generation warm up, so the timed ops
    * repeat from run to run. Unchecked. */
  def warmUp(): Unit = ()
  /** Op sequence (and, for the batch workloads, input) description. */
  def describe(seed: Long): Iterator[String]
  /** Traced runs only: per-run counts taken after the loop. */
  def afterLoop(): Unit = ()
}

object Workload {
  val all: Map[String, () => Workload] = Map(
    "zoe_read_write" -> (() => new ZoeWorkload),
    "analytics_curation" -> (() => new BatchWorkload(new AnalyticsWorkload, new CurationWorkload)))

  def apply(name: String): Workload =
    all.getOrElse(name, throw new IllegalArgumentException(s"unknown workload $name"))()

  /** Write the generated tables as parquet under `dir`, one file each,
    * concurrently. */
  def writeTables(dir: String, tables: (String, DataFrame)*): Unit =
    Trace.span("gen.write")(concurrently(tables) { case (name, df) =>
      df.coalesce(1).write.mode("overwrite").parquet(s"$dir/$name.parquet")
    })

  /** The TPC-H tables the graph mapping reads, lineitem on request. */
  def writeTpch(spark: SparkSession, dir: String, t: Tables, lineitem: Boolean): Unit = {
    val graph = Seq("region" -> spark.createDataFrame(t.region),
      "nation" -> spark.createDataFrame(t.nation), "customer" -> spark.createDataFrame(t.customer),
      "supplier" -> spark.createDataFrame(t.supplier), "part" -> spark.createDataFrame(t.part),
      "orders" -> spark.createDataFrame(t.orders))
    writeTables(dir, graph ++ (if (lineitem) Seq("lineitem" -> spark.createDataFrame(t.lineitem)) else Nil): _*)
  }

  /** Load the base tables through graft, concurrently, as TpchGraph.build
    * itself warms them. */
  def loadTables(spark: SparkSession, dir: String, names: Seq[String]): Unit =
    Trace.span("model.table_load")(concurrently(names)(TpchGraph.table(spark, dir, _)))

  /** Run `f` over `xs` on a pool of its own; each task carries the caller's
    * Spark job group, so traced jobs stay attributed to the open span. */
  private def concurrently[A](xs: Seq[A])(f: A => Any): Unit = {
    val sc = SparkSession.active.sparkContext
    val group = sc.getLocalProperty("spark.jobGroup.id")
    val pool = java.util.concurrent.Executors.newFixedThreadPool(xs.size max 1)
    try {
      xs.map { x =>
        pool.submit(new java.util.concurrent.Callable[Any] {
          def call(): Any = {
            if (group != null) sc.setJobGroup(group, "")
            f(x)
          }
        })
      }.foreach(_.get())
    } finally pool.shutdown()
  }

  /** Build the graph store and record how much the cached tables hold. */
  def buildGraph(spark: SparkSession, dir: String): GraphStore = {
    val g = Trace.span("model.graph_build")(TpchGraph.build(spark, dir))
    Trace.span("model.cached") {
      Trace.attr("cached_mb",
        spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1e6)
    }
    g
  }

  def dirBytes(path: String): Long = {
    val f = new java.io.File(path)
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(x => dirBytes(x.getPath)).sum
    else f.length()
  }
}

/** Plan size of a DataFrame's executed plan, AQE query stages included. */
object PlanStats extends AdaptiveSparkPlanHelper {
  def apply(p: SparkPlan): (Int, Int) = {
    val nodes = collectWithSubqueries(p) { case n => n }
    (nodes.size, nodes.count(_.isInstanceOf[Exchange]))
  }
}

/** zoe_read_write: each cycle is a BulkMutations batch that ends in a
  * saved, reloaded and cached store, then seeded Zoe queries in their wire
  * form over that store, every template once per round. (Without the save,
  * the plans of a store mutated batch after batch grow until describing one
  * for Spark's SQL listeners exhausts the heap.) */
final class ZoeWorkload extends Workload {
  override def cycle: Int = ZoeOps.cycle
  private var spark: SparkSession = _
  private var seed = 0L
  private var dir = ""
  private var tables: Tables = _
  private var store: GraphStore = _
  private var mirror: Mirror = _
  private var batches = 0

  def setup(s: SparkSession, sd: Long, d: String): Unit = {
    spark = s; seed = sd; dir = d
    tables = Trace.span("gen.tables")(Gen.tables(seed))
    Workload.writeTpch(s, dir, tables, lineitem = false)
    Workload.loadTables(spark, dir, TpchGraph.graphBaseTables)
    store = Workload.buildGraph(spark, dir)
    mirror = Mirror(tables, Map.empty)
  }

  def describe(sd: Long): Iterator[String] =
    ZoeOps.describe(sd, Gen.tables(sd), 1000)

  /** One query per template, with parameters from a stream no timed op
    * draws from. */
  override def warmUp(): Unit =
    (1 to ZoeOps.templates.size).foreach(i => ZoeWorkload.runRead(store, ZoeOps.read(~seed, i, tables)))

  def op(i: Int): Outcome =
    if (ZoeOps.isWrite(i)) write()
    else {
      val r = ZoeOps.read(seed, i, tables)
      val got = ZoeWorkload.runRead(store, r)
      val m = mirror
      Outcome("read", () => got == r.expect(m))
    }

  private def write(): Outcome = {
    val b = ZoeOps.batch(seed, batches, mirror.created)
    val s = spark
    import s.implicits._
    val next = Trace.span("store.mutate") {
      val props = b.create.map { case (_, c) =>
        val p = PropValue.typed("Customer", Some(c.name)); (p.hash, p.json, p.variant)
      }
      val refs = b.create.map { case (_, c) =>
        (PropValue("Customer", Some(c.name)).hash, TpchGraph.stHash("Customer"))
      }
      val nodes = b.create.map { case (id, c) => (id, PropValue("Customer", Some(c.name)).hash) }
      val edges = b.create.flatMap { case (id, c) => Seq(
        (id, s"nation:${c.nation}", TpchGraph.unitHash("InNation")),
        (id, s"segment:${c.segment}", TpchGraph.unitHash("InSegment")))
      }
      def edgeId(src: String, dst: String, label: String) =
        graft.model.Hashing.edgeId(TpchGraph.unitHash(label), src, dst)
      val dropped = b.delete.flatMap { id =>
        val c = mirror.created(id)
        edgeId(id, s"nation:${c.nation}", "InNation") +:
          (if (c.segEdge) Seq(edgeId(id, s"segment:${c.segment}", "InSegment")) else Nil)
      } ++ b.dropSegEdge.map(id => edgeId(id, s"segment:${mirror.created(id).segment}", "InSegment"))
      Trace.attr("rows_written",
        props.size + refs.size + nodes.size + edges.size + dropped.size + b.delete.size)
      var g = BulkMutations.createProperties(store, props.toDF("hash", "value", "schema_type"),
        Some(refs.toDF("parent_hash", "child_hash")))
      g = BulkMutations.createNodes(g, nodes.toDF("id", "prop_hash"))
      g = BulkMutations.createEdges(g, edges.toDF("src", "dst", "prop_hash"))
      g = BulkMutations.deleteEdges(g, dropped.toDF("edge_id"))
      BulkMutations.deleteNodes(g, b.delete.toDF("id"))
    }
    val collected = Trace.span("store.gc")(BulkMutations.gcOrphanProps(next))
    // each batch saves a new version: a loaded store's cached tables are
    // keyed by their source path, so reloading a path written over would
    // read back the previous version's cache
    val path = s"$dir/store/v$batches"
    Trace.span("model.save")(Trace.span("sink.write") {
      collected.save(path)
      Trace.attr("bytes", Workload.dirBytes(path).toDouble)
    })
    // the reloaded store is cached and counted before the next op reads it
    val (g, counts) = Trace.span("model.load")(ZoeWorkload.materialize(GraphStore.load(spark, path)))
    batches += 1
    store = g
    mirror = b(mirror)
    val m = mirror
    Outcome("write", () => counts.take(3) == Seq(m.vertexCount, m.edgeCount, m.propCount))
  }
}

object ZoeWorkload {
  /** Cache the store's tables; returns it with their row counts. */
  def materialize(g: GraphStore): (GraphStore, Seq[Long]) = {
    val m = g.persistAll()
    (m, Seq(m.vertices, m.edges, m.props, m.propRefs).map(_.count()))
  }

  /** One Zoe query from wire JSON to the last row collected by the client. */
  def runRead(g: GraphStore, r: ReadOp): Set[String] = {
    val q = Trace.span("ql.decode")(ZoeJson.parse(r.json))
    val df = Trace.span("exec.compile") {
      val c = new ZoeCompiler(g)
      val res = c.run(q)
      r.sink match {
        case Sink.Vertices => res.vertices
        case Sink.Properties => res.properties
        case Sink.PathProperties => c.extractPathProperties(res)
      }
    }
    Trace.span("exec.plan")(df.queryExecution.executedPlan)
    val rows = Trace.span("exec.execute") {
      val rows = df.collect()
      if (Trace.enabled) {
        val (nodes, exchanges) = PlanStats(df.queryExecution.executedPlan)
        Trace.attr("plan_nodes", nodes)
        Trace.attr("exchanges", exchanges)
        Trace.attr("rows_out", rows.length)
      }
      rows
    }
    r.sink match {
      case Sink.PathProperties =>
        rows.map(x => (x.getString(0) +: x.getSeq[String](1)).mkString("|")).toSet
      case _ => rows.map(_.getString(0)).toSet
    }
  }
}

/** The graph analytics half of analytics_curation: a cycle is one pass,
  * and each of its ten steps is an op: the co-purchase pre-pass, then nine
  * iterative algorithms, every result collected and checked against its
  * twin. Nothing carries over between passes. */
final class AnalyticsWorkload extends Workload {
  private val steps = Seq("prepass", "pagerank", "ppr", "lpa", "sssp", "hits", "triangles",
    "kcore", "cc", "walks")
  override def cycle: Int = steps.size
  private var spark: SparkSession = _
  private var seed = 0L
  private var dir = ""
  private var tables: Tables = _
  private var store: GraphStore = _
  // the current pass's pre-pass output and subgraph
  private var pairs: DataFrame = _
  private var sub: GraphStore = _

  def setup(s: SparkSession, sd: Long, d: String): Unit = {
    spark = s; seed = sd; dir = d
    tables = Trace.span("gen.tables")(Gen.tables(seed))
    Workload.writeTpch(s, dir, tables, lineitem = true)
    Workload.loadTables(spark, dir, TpchGraph.graphBaseTables :+ "lineitem")
    store = Workload.buildGraph(spark, dir)
  }

  /** Pass parameters: PPR seed residue, SSSP landmark regions, walk seed. */
  private def params(sd: Long, pass: Int): (Int, Seq[Int], String) = {
    val r = Gen.rng(sd, s"pass$pass")
    val residue = r.nextInt(10)
    val landmarks = (0 until 5).filter(_ => r.nextInt(2) == 0)
    (residue, if (landmarks.isEmpty) Seq(r.nextInt(5)) else landmarks, s"walk${r.nextInt(1000000)}")
  }

  def describe(sd: Long): Iterator[String] =
    Iterator.range(0, 100).map(p => params(sd, p).toString)

  private val toLong: Column => Column = { id =>
    val prefix = split(id, ":").getItem(0)
    val key = split(id, ":").getItem(1).cast("long")
    when(prefix === "region", key).when(prefix === "nation", key + 100L)
      .when(prefix === "supplier", key + 10000L).when(prefix === "customer", key + 1000000L)
  }

  private def subgraph(g: GraphStore): GraphStore = g.copy(
    vertices = g.vertices.where(split(col("id"), ":").getItem(0)
      .isin("region", "nation", "supplier", "customer")),
    edges = g.edges.where(col("prop_hash").isin(
      TpchGraph.unitHash("InNation"), TpchGraph.unitHash("InRegion"))))

  private lazy val twinPairs = AnalyticsTwin.coPairs(tables)

  def op(i: Int): Outcome = {
    val pass = i / cycle
    val name = steps(i % cycle)
    val (residue, landmarks, walkSeed) = params(seed, pass)
    val t = tables
    def long(r: Row, k: Int): Long = r.getAs[Number](k).longValue
    def m[K, V](rows: Array[Row])(f: Row => (K, V)): Map[K, V] = rows.map(f).toMap
    def step(body: => Array[Row])(ok: Array[Row] => Boolean): Outcome = {
      val rows = Trace.span(s"analytics.$name")(body)
      Outcome("step", () => ok(rows) || {
        System.err.println(s"graftbench: pass $pass: $name mismatch"); false
      })
    }
    name match {
      case "prepass" =>
        sub = subgraph(store)
        step {
          val li = TpchGraph.table(spark, dir, "lineitem")
            .select(col("l_orderkey").as("o"), col("l_partkey").as("p"))
          val p = GraphAnalytics.coPurchasePairs(li, "o", "p", minShared = 2).localCheckpoint(true)
          pairs = p.select("a", "b")
          p.collect()
        }(_.map(r => (long(r, 0), long(r, 1), long(r, 2))).toSet == twinPairs)
      case "pagerank" =>
        step(GraphAnalytics.pageRankDF(sub, toLong, numIter = 3)
          .select(col("id"), round(col("rank"), 5)).collect()) { rows =>
          val twin = AnalyticsTwin.pageRank(t)
          rows.length == twin.size && rows.forall(r => math.abs(r.getDouble(1) - twin(r.getString(0))) <= 1e-5)
        }
      case "ppr" =>
        val seeds = sub.vertices.where(split(col("id"), ":").getItem(0) === "customer" &&
          split(col("id"), ":").getItem(1).cast("long") % 10 === residue).select(toLong(col("id")).as("vid"))
        step(GraphAnalytics.personalizedPageRankDF(sub, toLong, seeds, numIter = 3)
          .select(col("id"), round(col("rank") * lit(1000000), 0).cast("long")).collect())(
          m(_)(r => r.getString(0) -> r.getLong(1)) == AnalyticsTwin.ppr(t, residue))
      case "lpa" =>
        step(GraphAnalytics.labelPropagationDF(sub, toLong, rounds = 3).collect())(
          m(_)(r => r.getString(0) -> long(r, 1)) == AnalyticsTwin.lpa(t, 3))
      case "sssp" =>
        step(GraphAnalytics.shortestPathsDF(sub, toLong, landmarks.map(_.toLong)).collect())(
          _.map(r => (r.getString(0), long(r, 1), long(r, 2))).toSet == AnalyticsTwin.sssp(t, landmarks.toSet))
      case "hits" =>
        step(GraphAnalytics.hitsDF(sub, toLong, numIter = 2).collect())(
          m(_)(r => r.getString(0) -> ((long(r, 1), long(r, 2)))) == AnalyticsTwin.hits(t))
      case "triangles" =>
        step(GraphAnalytics.triangleCountDF(sub, toLong).collect())(
          m(_)(r => r.getString(0) -> long(r, 1)) == AnalyticsTwin.triangles(t))
      case "kcore" =>
        step(GraphAnalytics.kCore(pairs, k = 3).collect())(
          m(_)(r => long(r, 0) -> long(r, 1)) == AnalyticsTwin.kCore(twinPairs, 3))
      case "cc" =>
        step(ConnectedComponents.labels(pairs).collect())(
          m(_)(r => long(r, 0) -> long(r, 1)) == AnalyticsTwin.components(twinPairs))
      case "walks" =>
        val sym = pairs.select(col("a").as("src"), col("b").as("dst"))
          .unionByName(pairs.select(col("b").as("src"), col("a").as("dst")))
        step(GraphAnalytics.randomWalks(sym, walkLen = 4, seed = walkSeed).collect())(
          _.map(r => (long(r, 0), long(r, 1), long(r, 2))).toSet == AnalyticsTwin.walks(twinPairs, 4, walkSeed))
    }
  }
}

/** The curation half of analytics_curation: a cycle is one pass of the
  * curation pipeline over the seeded corpus, and each of its eight steps is
  * an op, the last one the parquet sink. A pass is checked once, at its
  * sink, and a mismatch fails every step of the pass. Nothing carries over
  * between passes. */
final class CurationWorkload extends Workload {
  private val steps = Seq("quality_filter", "decontaminate", "exact_dedup", "minhash",
    "components", "survivors", "pack", "sink")
  override def cycle: Int = steps.size
  private var spark: SparkSession = _
  private var seed = 0L
  private var dir = ""
  private var documents: Seq[Doc] = _
  private var corpusDocs: Seq[Doc] = _
  private lazy val twin = CurationTwin.run(corpusDocs, documents)
  // the current pass's step outputs, by step name
  private val out = mutable.Map.empty[String, DataFrame]
  private var lastExact: DataFrame = _
  // each pass's sink check, and its result once a step asked for it
  private val sinkChecks = mutable.Map.empty[Int, () => Boolean]
  private val passResults = mutable.Map.empty[Int, Boolean]
  private def passOk(pass: Int): Boolean =
    passResults.getOrElseUpdate(pass, sinkChecks.get(pass).exists(_()))

  def setup(s: SparkSession, sd: Long, d: String): Unit = {
    spark = s; seed = sd; dir = d
    Trace.span("gen.tables") {
      val (d, c) = Corpus.build(seed, Gen.docs)
      documents = d
      corpusDocs = c
    }
    Workload.writeTables(dir, "documents" -> spark.createDataFrame(documents),
      "corpus" -> spark.createDataFrame(corpusDocs))
    Workload.loadTables(spark, dir, Seq("documents", "corpus"))
  }

  def describe(sd: Long): Iterator[String] =
    Corpus.build(sd, Gen.docs)._2.iterator.map(d => s"${d.doc_id} ${d.text}")

  def op(i: Int): Outcome = {
    val pass = i / cycle
    val name = steps(i % cycle)
    def stage(df: => DataFrame): Unit =
      out(name) = Trace.span(s"pipeline.$name")(df.localCheckpoint(true))
    name match {
      case "quality_filter" =>
        out.clear()
        stage {
          val corpus = TpchGraph.table(spark, dir, "corpus").select("doc_id", "text")
          val q = TextAnalysis.qualityTable(corpus, "doc_id", "text")
            .select(col("doc_id"), col("quality"), col("n_words"))
          corpus.join(q, Seq("doc_id"))
            .withColumn("lang_guess", TextAnalysis.langId(col("text")))
            .where(col("n_words") >= 5 && col("lang_guess") === "en" && col("quality") >= 0.35)
            .select("doc_id", "text", "n_words")
        }
      case "decontaminate" =>
        stage(Curation.decontaminate(out("quality_filter"),
          TpchGraph.table(spark, dir, "documents").where(col("doc_id") % 10 === 3), "doc_id", "text", n = 5))
      case "exact_dedup" =>
        val decon = out("decontaminate")
        stage(decon.join(decon.groupBy(md5(col("text")).as("__h")).agg(min("doc_id").as("doc_id")),
          Seq("doc_id"), "left_semi"))
      case "minhash" =>
        out(name) = Trace.span("pipeline.minhash") {
          val p = Dedup.ngramJaccardViaMinhash(out("exact_dedup"), "doc_id", "text", n = 3, k = 4, minSim = 0.5)
          if (Trace.enabled) Trace.attr("verified_pairs", p.count().toDouble)
          p
        }
      case "components" =>
        stage(ConnectedComponents.labels(out("minhash").select("a", "b")))
      case "survivors" =>
        stage(out("exact_dedup").join(out("components").where(col("cluster") < col("id"))
          .select(col("id").as("doc_id")), Seq("doc_id"), "left_anti"))
      case "pack" =>
        stage(Curation.packSequences(
          out("survivors").select(col("doc_id"), col("n_words"), (col("doc_id") % 8).as("shard")),
          "doc_id", "n_words", "shard", budget = 512L))
      case "sink" =>
        val path = s"$dir/sink/pass$pass"
        Trace.span("sink.write") {
          out("pack").write.mode("overwrite").parquet(path)
          Trace.attr("bytes", Workload.dirBytes(path).toDouble)
        }
        lastExact = out("exact_dedup")
        sinkChecks(pass) = () => {
          val got = spark.read.parquet(path).collect().map(r => CurationTwin.Packed(
            r.getAs[Number]("doc_id").longValue, r.getAs[Number]("shard").longValue,
            r.getAs[Number]("chunk").longValue, r.getAs[Number]("offset").longValue)).toSet
          got == twin
        }
    }
    Outcome("step", () => passOk(pass))
  }

  override def afterLoop(): Unit = if (lastExact != null) Trace.span("pipeline.candidates") {
    Trace.attr("candidate_pairs",
      Dedup.minhashCandidatePairs(lastExact, "doc_id", "text", k = 4).count().toDouble)
  }
}

/** analytics_curation: a cycle is one pass of the graph analytics, then one
  * pass of the curation pipeline, over inputs both set up in one process.
  * (Two workloads of their own would each pay a JVM and Spark start per run,
  * which the benchmark's run budget does not allow.) */
final class BatchWorkload(a: Workload, b: Workload) extends Workload {
  override def cycle: Int = a.cycle + b.cycle

  def setup(spark: SparkSession, seed: Long, dir: String): Unit = {
    a.setup(spark, seed, dir)
    b.setup(spark, seed, dir)
  }

  def op(i: Int): Outcome = {
    val (pass, k) = (i / cycle, i % cycle)
    if (k < a.cycle) a.op(pass * a.cycle + k) else b.op(pass * b.cycle + k - a.cycle)
  }

  def describe(seed: Long): Iterator[String] = a.describe(seed) ++ b.describe(seed)

  override def afterLoop(): Unit = { a.afterLoop(); b.afterLoop() }
}

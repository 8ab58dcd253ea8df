package graft

import org.apache.spark.sql.functions._
import graft.exec.ZoeCompiler
import graft.io.{GraphML, ZoeCli}
import graft.model.{GraphStore, PropValue}
import graft.ql._
import graft.store.{BulkMutations, GraphBatch, NodeExistsException}

class StoreAndIoSpec extends SparkSuite {
  import spark.implicits._

  test("bulk mutations: create/delete with NodeExists parity and GC sweep") {
    val p1 = PropValue.typed("Thing", Some("one"))
    val p2 = PropValue.typed("Thing", Some("two"))
    var g = GraphStore.empty(spark)
    g = BulkMutations.createProperties(g,
      (p1.withNested ++ p2.withNested).map(p => (p.hash, p.json, p.variant)).distinct
        .toDF("hash", "value", "schema_type"),
      Some((p1.withNested ++ p2.withNested).flatMap(p => p.nested.map(c => (p.hash, c.hash))).distinct
        .toDF("parent_hash", "child_hash")))
    g = BulkMutations.createNodes(g, Seq(("a", p1.hash), ("b", p2.hash)).toDF("id", "prop_hash"))
    intercept[NodeExistsException] {
      BulkMutations.createNodes(g, Seq(("a", p2.hash)).toDF("id", "prop_hash"))
    }
    g = BulkMutations.createEdges(g, Seq(("a", "b", PropValue("Link").hash)).toDF("src", "dst", "prop_hash"))
    assert(g.edges.head().getString(0) ==
      graft.model.Hashing.edgeId(PropValue("Link").hash, "a", "b"))
    // endpoint validation drops edges to missing nodes
    val g2 = BulkMutations.createEdges(g, Seq(("a", "ghost", p1.hash)).toDF("src", "dst", "prop_hash"))
    assert(g2.edges.count() == 1)
    // delete node b, GC: p2 orphaned; SchemaType("Thing") survives via p1
    var g3 = BulkMutations.deleteNodes(g, Seq("b").toDF("id"))
    g3 = g3.copy(edges = g3.edges.limit(0)) // drop the dangling edge for the GC check
    g3 = BulkMutations.gcOrphanProps(g3)
    val left = g3.props.select("hash").collect().map(_.getString(0)).toSet
    assert(left.contains(p1.hash) && !left.contains(p2.hash))
    assert(left.contains(PropValue.schemaType("Thing").hash))
  }

  private def propRows(ps: Seq[PropValue]) =
    ps.flatMap(_.withNested).map(p => (p.hash, p.json, p.variant)).distinct
      .toDF("hash", "value", "schema_type")
  private def refRows(ps: Seq[PropValue]) =
    ps.flatMap(_.withNested).flatMap(p => p.nested.map(c => (p.hash, c.hash))).distinct
      .toDF("parent_hash", "child_hash")
  private def hashes(g: GraphStore): Set[String] = g.props.select("hash").as[String].collect().toSet
  private def refPairs(g: GraphStore): Set[(String, String)] =
    g.propRefs.select("parent_hash", "child_hash").as[(String, String)].collect().toSet

  test("createNodes spends only its two NodeExists probes and the write") {
    val p = PropValue.typed("Thing", Some("one"))
    var g = BulkMutations.createProperties(GraphStore.empty(spark), propRows(Seq(p)))
    g = BulkMutations.createNodes(g, Seq(("a", p.hash)).toDF("id", "prop_hash"))
    val batch = (1 to 5).map(i => (s"n$i", p.hash)).toDF("id", "prop_hash")
    val (ids, jobs, stages) = countJobsAndStages(
      BulkMutations.createNodes(g, batch).vertices.select("id").as[String].collect().toSet)
    assert(ids == Set("a", "n1", "n2", "n3", "n4", "n5"))
    // the probes' jobs and the read's. The probes already rule out a clash
    // and an in-batch duplicate, so the write adds no anti-join or dedup
    // to the read: either would cost it 2 more stages, not another job
    assert(jobs <= 5, s"createNodes and one read spent $jobs jobs")
    assert(stages <= 8, s"createNodes and one read ran $stages stages")
  }

  test("each NodeExists probe is one job however many partitions it scans") {
    val p = PropValue.typed("Thing", Some("one"))
    var g = BulkMutations.createProperties(GraphStore.empty(spark), propRows(Seq(p)))
    g = BulkMutations.createNodes(g, Seq(("a", p.hash)).toDF("id", "prop_hash"))
    val batch = (1 to 5).map(i => (s"n$i", p.hash)).toDF("id", "prop_hash")
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "16")
    val (_, jobs) =
      try countJobs(BulkMutations.createNodes(g, batch))
      finally spark.conf.set("spark.sql.shuffle.partitions", prev)
    // the in-batch duplicate probe and the clash probe; the write is lazy.
    // A limit(1) probe scans 16 partitions in waves of 1, 4 and 11: 3 jobs
    assert(jobs == 2, s"createNodes' probes spent $jobs jobs over 16 partitions")
    // each probe still names an offending id
    val dup = intercept[NodeExistsException] {
      BulkMutations.createNodes(g, Seq(("n1", p.hash), ("n1", p.hash)).toDF("id", "prop_hash"))
    }
    assert(dup.id == "n1")
    val clash = intercept[NodeExistsException] {
      BulkMutations.createNodes(g, Seq(("z", p.hash), ("a", p.hash)).toDF("id", "prop_hash"))
    }
    assert(clash.id == "a")
    val missing = intercept[IllegalArgumentException] {
      BulkMutations.updateNodes(g, Seq(("a", p.hash), ("ghost", p.hash)).toDF("id", "prop_hash"))
    }
    assert(missing.getMessage.contains("node ghost does not exist"), missing.getMessage)
  }

  test("gcOrphanProps: a ref whose parent is not a prop keeps nothing alive") {
    val kept = PropValue.typed("Thing", Some("kept"))
    val orphan = PropValue("Loose", Some("x"))
    val ghost = PropValue("Ghost", Some("never stored"))
    var g = BulkMutations.createProperties(GraphStore.empty(spark), propRows(Seq(kept, orphan)),
      Some(refRows(Seq(kept)).unionByName(Seq((ghost.hash, orphan.hash)).toDF("parent_hash", "child_hash"))))
    g = BulkMutations.createNodes(g, Seq(("a", kept.hash)).toDF("id", "prop_hash"))
    val swept = BulkMutations.gcOrphanProps(g)
    assert(hashes(swept) == kept.withNested.map(_.hash).toSet)
    assert(refPairs(swept) == Set((kept.hash, PropValue.schemaType("Thing").hash)))
  }

  test("gcOrphanProps: a 12-level nested chain is swept to the leaf") {
    val root = (1 to 11).foldLeft(PropValue("Level", Some("0"))) { (child, i) =>
      PropValue("Level", Some(i.toString), Seq(child))
    }
    assert(root.withNested.size == 12)
    var g = BulkMutations.createProperties(GraphStore.empty(spark), propRows(Seq(root)), Some(refRows(Seq(root))))
    g = BulkMutations.createNodes(g, Seq(("a", root.hash)).toDF("id", "prop_hash"))
    val swept = BulkMutations.gcOrphanProps(BulkMutations.deleteNodes(g, Seq("a").toDF("id")))
    assert(hashes(swept).isEmpty)
    assert(refPairs(swept).isEmpty)
  }

  test("gcOrphanProps matches GraphBatch's reference counting on random stores") {
    // element props nest a three-level DAG (Elem -> Group -> Kind -> Leaf)
    // whose inner levels are shared; the GraphBatch replay frees props one
    // backlink at a time, the sweep once over the whole mutated store
    var deepest = 0
    (1 to 4).foreach { seed =>
      val rnd = new scala.util.Random(seed)
      def pick[T](xs: Seq[T]): T = xs(rnd.nextInt(xs.size))
      def level(variant: String, n: Int, below: Seq[PropValue]) = (0 until n).map { i =>
        val shared = if (rnd.nextInt(4) == 0) Seq(pick(below)) else Nil
        PropValue(variant, Some(s"$i"), (below(i % below.size) +: shared).distinct)
      }
      val groups = level("Group", 14, level("Kind", 10, (0 until 10).map(i => PropValue("Leaf", Some(s"$i")))))
      def elem(n: Int) = {
        val grp = pick(groups)
        PropValue("Elem", Some(s"${rnd.nextInt(n)}/${grp.payload.get}"), Seq(grp))
      }
      val b = new GraphBatch
      val ids = (0 until 16).map(i => b.createNode(s"n$i", elem(10)))
      (0 until 12).foreach(_ => b.createEdge(pick(ids), pick(ids), elem(10)))
      val before = b.toStore(spark)
      val variantOf = before.props.select("hash", "schema_type").as[(String, String)].collect().toMap

      var live = ids
      var edgeIds = b.edgeIds
      val deletedNodes, deletedEdges = Seq.newBuilder[String]
      val updates = scala.collection.mutable.LinkedHashMap[String, PropValue]()
      (0 until 20).foreach { _ =>
        rnd.nextInt(3) match {
          case 0 if live.size > 1 =>
            val id = pick(live)
            b.deleteNode(id); live = live.filterNot(_ == id); updates.remove(id); deletedNodes += id
          case 1 if edgeIds.nonEmpty =>
            val id = pick(edgeIds)
            b.deleteEdge(id); edgeIds = edgeIds.filterNot(_ == id); deletedEdges += id
          case _ =>
            val (id, p) = (pick(live), elem(20))
            b.updateNode(id, p); updates(id) = p
        }
      }
      val dead = (variantOf.keySet -- b.propKeys).map(variantOf)
      deepest = deepest max Seq("Elem", "Group", "Kind", "Leaf").lastIndexWhere(dead.contains)

      var g = BulkMutations.createProperties(before, propRows(updates.values.toSeq),
        Some(refRows(updates.values.toSeq)))
      g = BulkMutations.deleteNodes(g, (deletedNodes.result() ++ updates.keys).toDF("id"))
      g = BulkMutations.createNodes(g, updates.toSeq.map { case (id, p) => (id, p.hash) }.toDF("id", "prop_hash"))
      g = BulkMutations.deleteEdges(g, deletedEdges.result().toDF("edge_id"))
      val swept = BulkMutations.gcOrphanProps(g)
      val want = b.toStore(spark)
      assert(hashes(swept) == hashes(want), s"seed $seed props")
      assert(refPairs(swept) == refPairs(want), s"seed $seed prop_refs")
    }
    assert(deepest == 3, "no seed cascaded from an element prop down to a leaf")
  }

  test("gcOrphanProps: one job per round plus one, nothing left in the session cache") {
    val kept = PropValue.typed("Thing", Some("kept"))
    val doc = PropValue("Doc", Some("x"), Seq(PropValue("Part", Some("y"))))
    val link = PropValue("Link")
    var g = BulkMutations.createProperties(GraphStore.empty(spark),
      propRows(Seq(kept, doc, link)), Some(refRows(Seq(kept, doc))))
    g = BulkMutations.createNodes(g, Seq(("a", kept.hash), ("d", doc.hash)).toDF("id", "prop_hash"))
    g = BulkMutations.createEdges(g, Seq(("a", "d", link.hash)).toDF("src", "dst", "prop_hash"))
    g = BulkMutations.deleteNodes(g, Seq("d").toDF("id"))
    val cachedBefore = org.apache.spark.sql.GraftCacheProbe.cachedEntryCount(spark)
    val (swept, jobs) = countJobs(BulkMutations.gcOrphanProps(g))
    assert(org.apache.spark.sql.GraftCacheProbe.cachedEntryCount(spark) == cachedBefore,
      "sweep left entries in the session cache")
    // Doc orphaned in round 1, Part in round 2, round 3 empty: budget =
    // 1 held-set job + 3 round jobs, +1 slack
    assert(jobs <= 5, s"sweep spent $jobs jobs for 3 rounds + the held set")
    assert(hashes(swept) == (kept.withNested :+ link).map(_.hash).toSet)
    assert(refPairs(swept) == Set((kept.hash, PropValue.schemaType("Thing").hash)))
  }

  test("20 mutation batches without a save: plans stay bounded, batch 20 keeps batch 2's pace") {
    // per batch 5 props, 5 nodes, 1 edge, 1 node delete, then the sweep;
    // a GraphBatch replays the same operations as the reference
    val link = PropValue("Link")
    val b = new GraphBatch
    var live = (0 until 20).map(i => b.createNode(s"s$i", PropValue.typed("Thing", Some(s"s$i"))))
    var g = b.toStore(spark)
    val walls = (1 to 20).map { batch =>
      val ps = (0 until 5).map(i => PropValue.typed("Thing", Some(s"b$batch/$i")))
      val ids = ps.indices.map(i => s"b$batch/$i")
      ids.zip(ps).foreach { case (id, p) => b.createNode(id, p) }
      val (src, dst) = (ids.head, live(batch % live.size))
      b.createEdge(src, dst, link)
      live = live ++ ids
      val gone = live((batch * 7) % live.size)
      b.deleteNode(gone)
      live = live.filterNot(_ == gone)
      val t0 = System.nanoTime()
      g = BulkMutations.createProperties(g, propRows(ps :+ link), Some(refRows(ps)))
      g = BulkMutations.createNodes(g, ids.zip(ps.map(_.hash)).toDF("id", "prop_hash"))
      g = BulkMutations.createEdges(g, Seq((src, dst, link.hash)).toDF("src", "dst", "prop_hash"))
      g = BulkMutations.gcOrphanProps(BulkMutations.deleteNodes(g, Seq(gone).toDF("id")))
      val wall = (System.nanoTime() - t0) / 1e9
      Seq("vertices" -> g.vertices, "edges" -> g.edges, "props" -> g.props, "prop_refs" -> g.propRefs)
        .foreach { case (name, df) =>
          val n = planNodes(df)
          assert(n < 40, s"batch $batch: the $name plan has $n nodes")
        }
      wall
    }
    assert(walls(19) < 2 * walls(1), s"batch walls (s): ${walls.map(w => f"$w%.2f").mkString(" ")}")
    val want = b.toStore(spark)
    assert(hashes(g) == hashes(want))
    assert(refPairs(g) == refPairs(want))
    assert(g.vertices.count() == live.size && g.edges.count() == 20)
  }


  test("get_or_create: 0 -> create, 1 -> reuse, >1 -> error (CLI parity)") {
    val p = PropValue.typed("Thing", Some("shared"))
    var g = GraphStore.empty(spark)
    val (g1, id1) = BulkMutations.getOrCreateNode(g, p)
    val (g2, id2) = BulkMutations.getOrCreateNode(g1, p)
    assert(id1 == id2)
    assert(g2.vertices.count() == 1)
    val gDup = g2.copy(vertices = g2.vertices.unionByName(Seq(("other", p.hash)).toDF("id", "prop_hash")))
    intercept[IllegalStateException] { BulkMutations.getOrCreateNode(gDup, p) }
  }

  test("GraphML import matches the reference fixture behavior") {
    val xml =
      """<graph>
        |  <node id="1"><Label>Node 1</Label></node>
        |  <node id="2"><Label>Node 2</Label></node>
        |  <edge source="1" target="2"><Label>Edge from Node 1 to Node 2</Label></edge>
        |</graph>""".stripMargin
    val res = GraphML.importString(xml)
    val g = res.batch.toStore(spark)
    val zc = new ZoeCompiler(g)
    val vertexProps = zc.extractProperties(zc.run(VertexQuery.all))
      .collect().map(_.getString(0)).sorted
    assert(vertexProps.toSeq == Seq("""{"Label":"Node 1"}""", """{"Label":"Node 2"}"""))
    val edgeProps = zc.extractProperties(zc.run(EdgeQuery.all))
      .collect().map(_.getString(0))
    assert(edgeProps.toSeq == Seq("""{"Label":"Edge from Node 1 to Node 2"}"""))
    assert(res.idMapping.keySet == Set("1", "2"))
  }

  test("GraphStore save/load round-trip preserves all four tables") {
    val b = new GraphBatch
    val n1 = b.createNode(PropValue.typed("Thing", Some("x")))
    val n2 = b.createNode(PropValue.typed("Thing", Some("y")))
    b.createEdge(n1, n2, PropValue("Link"))
    val dir = java.nio.file.Files.createTempDirectory("graft-rt").toString
    b.toStore(spark).save(dir)
    val loaded = GraphStore.load(spark, dir)
    assert(loaded.vertices.count() == 2 && loaded.edges.count() == 1)
    assert(loaded.props.count() == 4) // x, y, SchemaType(Thing), Link
    assert(loaded.propRefs.count() == 2)
  }

  test("GraphStore save over a path whose loaded tables are cached: the next load reads the new rows") {
    def store(names: String*): GraphStore = {
      val b = new GraphBatch
      names.foreach(n => b.createNode(s"v:$n", PropValue.typed("Thing", Some(n))))
      b.toStore(spark)
    }
    def ids(g: GraphStore): Set[String] =
      g.vertices.select("id").as[String].collect().toSet
    val dir = java.nio.file.Files.createTempDirectory("graft-resave").toString
    store("a", "b").save(dir)
    val cached = GraphStore.load(spark, dir).persistAll()
    assert(ids(cached) == Set("v:a", "v:b"))
    store("c").save(dir)
    assert(ids(GraphStore.load(spark, dir)) == Set("v:c"))
    Seq(cached.vertices, cached.edges, cached.props, cached.propRefs).foreach(_.unpersist())
  }

  test("CLI renderResult emits the reference QueryResult JSON shape") {
    val b = new GraphBatch
    val n1 = b.createNode("n1", PropValue.typed("Thing", Some("x")))
    val n2 = b.createNode("n2", PropValue.typed("Thing", Some("y")))
    b.createEdge(n1, n2, PropValue("Link"))
    val zc = new ZoeCompiler(b.toStore(spark))
    val json = ZoeCli.renderResult(zc.run(VertexQuery.fromIds(Seq("n1"))))
    assert(json == """{"vertices":[["n1",null]],"edges":[],"paths":[[null,[],"n1"]],"variables":{}}""")
  }

  test("column-level edge ids match the Scala serializer for quoted ids") {
    val ids = Seq("""he said "hi"""", """back\slash""", """both "\" here""", "normal:1",
      "line\nbreak", "tab\there", "cr\rhere", "bell\u0007", "nul\u0000mid", "esc\u001b[0m",
      "bs\bhere", "ff\fhere") // serde_json short-escapes \b and \f
    val df = ids.flatMap(a => ids.map(b => (a, b))).toDF("src", "dst")
      .select(col("src"), col("dst"),
        graft.model.Hashing.edgeIdCol(lit("P"), col("src"), col("dst")).as("computed"))
    df.collect().foreach { r =>
      assert(r.getString(2) == graft.model.Hashing.edgeId("P", r.getString(0), r.getString(1)),
        s"mismatch for (${r.getString(0)}, ${r.getString(1)})")
    }
  }

  test("GraphChange diff/apply round-trips a mutated store") {
    val b = new GraphBatch
    val a = b.createNode("a", PropValue.typed("Thing", Some("one")))
    val bb = b.createNode("b", PropValue.typed("Thing", Some("two")))
    b.createNode("c", PropValue.typed("Thing", Some("three")))
    b.createEdge(a, bb, PropValue("Link"))
    val from = b.toStore(spark)

    val b2 = new GraphBatch
    val a2 = b2.createNode("a", PropValue.typed("Thing", Some("ONE"))) // modified
    b2.createNode("b", PropValue.typed("Thing", Some("two")))
    b2.createNode("d", PropValue.typed("Widget", Some("four")))        // created, NEW variant (c deleted)
    b2.createEdge(a2, "d", PropValue("Link"))                          // new edge, old deleted
    val to = b2.toStore(spark)

    val c = graft.store.GraphChange.diff(from, to)
    assert(c.createdNodes.collect().map(_.getString(0)).toSeq == Seq("d"))
    assert(c.deletedNodes.collect().map(_.getString(0)).toSeq == Seq("c"))
    assert(c.modifiedNodes.collect().map(_.getString(0)).toSeq == Seq("a"))
    // depends_on closure: the new variant's nested SchemaType travels too
    val widgetSt = PropValue.schemaType("Widget").hash
    assert(c.requiredProps.collect().map(_.getString(0)).contains(widgetSt))
    assert(c.requiredRefs.collect()
      .map(r => (r.getString(0), r.getString(1)))
      .contains((PropValue.typed("Widget", Some("four")).hash, widgetSt)))

    val applied = graft.store.GraphChange.apply(from, c)
    def canon(g: graft.model.GraphStore) = (
      g.vertices.collect().map(r => (r.getString(0), r.getString(1))).sorted.toSeq,
      g.edges.collect().map(_.getString(0)).sorted.toSeq)
    assert(canon(applied) == canon(to))
    // every prop_hash referenced by the applied store resolves
    val dangling = applied.vertices.select(col("prop_hash").as("hash"))
      .unionByName(applied.edges.select(col("prop_hash").as("hash")))
      .join(applied.props, Seq("hash"), "left_anti")
    assert(dangling.count() == 0)
  }

  test("GraphChange diff: the depends_on closure follows a 20-level nested chain to its leaf") {
    val root = (1 to 19).foldLeft(PropValue("Level", Some("0"))) { (child, i) =>
      PropValue("Level", Some(i.toString), Seq(child))
    }
    assert(root.withNested.size == 20)
    val b1 = new GraphBatch
    b1.createNode("a", PropValue("Level", Some("flat")))
    val b2 = new GraphBatch
    b2.createNode("a", root)
    val c = graft.store.GraphChange.diff(b1.toStore(spark), b2.toStore(spark))
    assert(c.modifiedNodes.select("id").as[String].collect().toSeq == Seq("a"))
    assert(c.requiredProps.select("hash").as[String].collect().toSet ==
      root.withNested.map(_.hash).toSet)
    assert(c.requiredRefs.select("parent_hash", "child_hash").as[(String, String)].collect().toSet ==
      root.withNested.flatMap(p => p.nested.map(n => (p.hash, n.hash))).toSet)
  }

  test("GraphML export round-trips through the importer; dot export renders") {
    val b = new GraphBatch
    val n1 = b.createNode("n1", PropValue.typed("Label", Some("Node <1> & \"x\"")))
    val n2 = b.createNode("n2", PropValue.typed("Label", Some("Node 2")))
    b.createEdge(n1, n2, PropValue.typed("Label", Some("edge label")))
    val g = b.toStore(spark)
    val xml = graft.io.GraphExport.toGraphML(g)
    val re = GraphML.importString(xml,
      nodeKeyMapper = (id, seen) => seen.getOrElseUpdate(id, id))
    val back = re.batch.toStore(spark)
    assert(back.vertices.collect().map(_.getString(0)).sorted.toSeq == Seq("n1", "n2"))
    assert(back.props.select("value").collect().map(_.getString(0)).sorted.toSeq ==
      g.props.select("value").collect().map(_.getString(0)).sorted.toSeq)
    assert(back.edges.head().getString(0) == g.edges.head().getString(0)) // same content hash
    val dot = graft.io.GraphExport.toDot(g)
    assert(dot.startsWith("digraph graft {") && dot.endsWith("}"))
    assert(dot.contains(""""n1" -> "n2""""), dot)
  }

  test("CLI script/repl verbs run SQL over the registered graph views") {
    val b = new GraphBatch
    val n1 = b.createNode("n1", PropValue.typed("Thing", Some("x")))
    val n2 = b.createNode("n2", PropValue.typed("Thing", Some("y")))
    b.createEdge(n1, n2, PropValue("Link"))
    val dir = java.nio.file.Files.createTempDirectory("graft-cli-sql").toString
    b.toStore(spark).save(dir)
    val sqlFile = java.nio.file.Files.createTempFile("graft", ".sql")
    java.nio.file.Files.writeString(sqlFile,
      "SELECT count(*) AS n FROM graft_vertices; SELECT src, dst FROM graft_edges ORDER BY src")
    val out = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(out)) {
      ZoeCli.run(spark, List("script", dir, sqlFile.toString))
    }
    val lines = out.toString.trim.linesIterator.toSeq
    assert(lines.contains("""{"n":2}"""), lines)
    assert(lines.contains("""{"src":"n1","dst":"n2"}"""), lines)
    // repl: same statements over stdin
    val out2 = new java.io.ByteArrayOutputStream()
    Console.withIn(new java.io.StringReader("SELECT count(*) AS n FROM graft_props;")) {
      Console.withOut(new java.io.PrintStream(out2)) {
        ZoeCli.run(spark, List("repl", dir))
      }
    }
    assert(out2.toString.contains("""{"n":4}"""), out2.toString)
    // explain: the Zoe query's optimized physical plan, not a result
    val out3 = new java.io.ByteArrayOutputStream()
    Console.withIn(new java.io.StringReader("""{"V":"All"}""")) {
      Console.withOut(new java.io.PrintStream(out3)) {
        ZoeCli.run(spark, List("explain", dir))
      }
    }
    assert(out3.toString.contains("Physical Plan"), out3.toString.take(200))
  }

  test("context variables survive the traversal into the wire format") {
    val b = new GraphBatch
    val n1 = b.createNode("n1", PropValue.typed("Thing", Some("x")))
    val n2 = b.createNode("n2", PropValue.typed("Thing", Some("y")))
    b.createEdge(n1, n2, PropValue("Link"))
    val zc = new ZoeCompiler(b.toStore(spark), Map("who" -> "alice", "run" -> "7"))
    val r = zc.run(VertexQuery.fromIds(Seq("n1", "n2")).outgoing.outgoing)
    val json = ZoeCli.renderResult(r)
    assert(json.contains(""""variables":{"run":"7","who":"alice"}"""), json)
    // a P query carries no traversal contexts -> empty variables
    assert(new ZoeCompiler(b.toStore(spark), Map("x" -> "1"))
      .run(PropertyQuery.fromId(PropValue("Link").hash)).variables.count() == 0)
  }

  test("GraphChange.apply on a DIVERGED target keeps id uniqueness") {
    val b = new GraphBatch
    b.createNode("a", PropValue.typed("Thing", Some("one")))
    val from = b.toStore(spark)
    val b2 = new GraphBatch
    b2.createNode("a", PropValue.typed("Thing", Some("one")))
    b2.createNode("d", PropValue.typed("Thing", Some("four")))
    val to = b2.toStore(spark)
    val c = graft.store.GraphChange.diff(from, to)
    // the target has drifted since the diff: it already created "d" (with a
    // DIFFERENT property) and an unrelated "z"
    val b3 = new GraphBatch
    b3.createNode("a", PropValue.typed("Thing", Some("one")))
    b3.createNode("d", PropValue.typed("Thing", Some("stale")))
    b3.createNode("z", PropValue.typed("Thing", Some("mine")))
    val diverged = b3.toStore(spark)
    val applied = graft.store.GraphChange.apply(diverged, c)
    val rows = applied.vertices.collect().map(r => (r.getString(0), r.getString(1))).toSeq
    assert(rows.map(_._1).sorted == Seq("a", "d", "z"))          // no duplicate ids
    assert(rows.toMap.apply("d") == PropValue.typed("Thing", Some("four")).hash) // change wins
  }

  test("splitSql survives ';' in identifiers, literals, and comments") {
    import graft.io.CliLimits.splitSql
    assert(splitSql("SELECT 1; SELECT 2") == Seq("SELECT 1", "SELECT 2"))
    assert(splitSql("SELECT 'a;b' AS x; SELECT 2") == Seq("SELECT 'a;b' AS x", "SELECT 2"))
    assert(splitSql("SELECT 'it''s; fine'") == Seq("SELECT 'it''s; fine'"))
    assert(splitSql("""SELECT 1 AS "semi;col"; SELECT 2""") ==
      Seq("""SELECT 1 AS "semi;col"""", "SELECT 2"))
    assert(splitSql("SELECT `a;b` FROM t; SELECT 2") == Seq("SELECT `a;b` FROM t", "SELECT 2"))
    // doubled quote chars escape INSIDE their own quoting for all three
    // styles: "" in double-quoted identifiers, `` in backticked ones
    assert(splitSql("""SELECT 1 AS "a""b;c"; SELECT 2""") ==
      Seq("""SELECT 1 AS "a""b;c"""", "SELECT 2"))
    assert(splitSql("SELECT `a``b;c` FROM t; SELECT 2") ==
      Seq("SELECT `a``b;c` FROM t", "SELECT 2"))
    assert(splitSql("SELECT 1 -- trailing; not a split\n; SELECT 2") ==
      Seq("SELECT 1 -- trailing; not a split", "SELECT 2"))
    assert(splitSql("SELECT 1 /* block; comment */; SELECT 2") ==
      Seq("SELECT 1 /* block; comment */", "SELECT 2"))
    assert(splitSql("SELECT 1 /* unterminated; block") == Seq("SELECT 1 /* unterminated; block"))
    // '/*/' must OPEN a comment, not open-and-close it
    assert(splitSql("SELECT 1 /*/ ; */; SELECT 2") == Seq("SELECT 1 /*/ ; */", "SELECT 2"))
    // bracketed comments nest (Spark SQL semantics)
    assert(splitSql("SELECT 1 /* a /* b */ ; c */; SELECT 2") ==
      Seq("SELECT 1 /* a /* b */ ; c */", "SELECT 2"))
  }

  test("queries on an empty store return empty results, not errors") {
    val g = GraphStore.empty(spark)
    val zc = new ZoeCompiler(g)
    val q = Zoe.start(PropValue.typed("Nope", Some("x"))).referencingVertices
      .ingoing.intersect(Zoe.start(PropValue("Edge")).referencingEdges).ingoing
    val r = zc.run(q)
    assert(r.vertices.count() == 0 && r.edges.count() == 0 && r.paths.count() == 0)
    assert(zc.extractProperties(r).count() == 0)
    assert(zc.extractPathProperties(r).count() == 0)
    assert(zc.run(VertexQuery.all).vertices.count() == 0)
    assert(zc.run(EdgeQuery.all).edges.count() == 0)
  }
}

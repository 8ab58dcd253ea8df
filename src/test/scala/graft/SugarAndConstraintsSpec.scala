package graft

import graft.exec.{SchemaConstraint, SchemaValidator, ZoeCompiler}
import graft.model.PropValue
import graft.ql._

class SugarAndConstraintsSpec extends SparkSuite {

  lazy val (batch, ids) = CocktailFixture.build()
  lazy val g = batch.toStore(spark).persistAll()
  lazy val zc = new ZoeCompiler(g)

  private def prop(v: String, p: String = "") = CocktailFixture.prop(v, p)

  test("outgoing(filter) sugar == explicit intersect chain (lua.rs:130-178)") {
    val gin = Zoe.start(prop("Ingredient", "gin")).referencingVertices
    val includes = Zoe.start(prop("Includes"))
    // edge-filtered hop: property filter auto-intersects referencing edges
    val sugar = gin.ingoing(includes).ingoing
    val explicit = gin.ingoing.intersect(includes.referencingEdges).ingoing
    val a = zc.run(sugar).vertices.collect().map(_.getString(0)).toSet
    val b = zc.run(explicit).vertices.collect().map(_.getString(0)).toSet
    assert(a == b && a.size == 21)
  }

  test("outgoing(vertexFilter) hops through to filtered target vertices") {
    val alexanders = Zoe.start(prop("Cocktail", "Alexander")).referencingVertices
    val garnishes = Zoe.start(PropValue.schemaType("Garnish"))
      .referencingProperties.referencingVertices
    val got = zc.extractProperties(zc.run(alexanders.outgoing(garnishes)))
      .collect().map(_.getString(0)).toSet
    assert(got == Set("""{"Garnish":"nutmeg"}"""))
  }

  test("schema constraints: required passes when matched, fails when empty") {
    val hasCocktails = SchemaConstraint.Required(BasicQuery.V(
      Zoe.start(PropValue.schemaType("Cocktail")).referencingProperties.referencingVertices))
    val noTeacups = SchemaConstraint.Prohibited(BasicQuery.V(
      Zoe.start(prop("Glass", "teacup")).referencingVertices))
    assert(SchemaValidator.validate(g, Seq(hasCocktails, noTeacups)).isEmpty)

    val requiresTeacup = SchemaConstraint.Required(BasicQuery.V(
      Zoe.start(prop("Glass", "teacup")).referencingVertices))
    val noGin = SchemaConstraint.Prohibited(BasicQuery.V(
      Zoe.start(prop("Ingredient", "gin")).referencingVertices))
    val vs = SchemaValidator.validate(g, Seq(requiresTeacup, noGin))
    assert(vs.map(_.kind).sorted == Seq("prohibited", "required"))
    intercept[IllegalStateException] { SchemaValidator.enforce(g, Seq(noGin)) }
  }

  test("CLI property-id / mutation verbs round-trip through a saved store") {
    import graft.io.ZoeCli
    val dir = java.nio.file.Files.createTempDirectory("graft-cli").toString
    ZoeCli.run(spark, List("init", dir))
    val in = new java.io.ByteArrayInputStream("hello prop".getBytes)
    Console.withIn(in) { ZoeCli.run(spark, List("create-node", dir, "--id", "n1")) }
    val in2 = new java.io.ByteArrayInputStream("hello prop".getBytes)
    Console.withIn(in2) { ZoeCli.run(spark, List("create-node", dir, "--id", "n2")) }
    val in3 = new java.io.ByteArrayInputStream("link".getBytes)
    Console.withIn(in3) { ZoeCli.run(spark, List("create-edge", dir, "--out", "n1", "--in", "n2")) }
    val g2 = graft.model.GraphStore.load(spark, dir)
    assert(g2.vertices.count() == 2)
    assert(g2.edges.count() == 1)
    assert(g2.props.count() == 2) // "hello prop" deduplicated + "link"
    ZoeCli.run(spark, List("delete-node", dir, "--id", "n2"))
    val g3 = graft.model.GraphStore.load(spark, dir)
    assert(g3.vertices.count() == 1)
    assert(g3.edges.count() == 1) // dangling edge parity
  }

  test("CLI create-node --update and --get-or-create flags") {
    import graft.io.ZoeCli
    val dir = java.nio.file.Files.createTempDirectory("graft-cli2").toString
    ZoeCli.run(spark, List("init", dir))
    def withStdin(text: String)(f: => Unit): Unit =
      Console.withIn(new java.io.ByteArrayInputStream(text.getBytes))(f)
    withStdin("v1") { ZoeCli.run(spark, List("create-node", dir, "--id", "n1")) }
    // get-or-create with the same property reuses n1 (no new node)
    withStdin("v1") { ZoeCli.run(spark, List("create-node", dir, "--get-or-create")) }
    assert(graft.model.GraphStore.load(spark, dir).vertices.count() == 1)
    // update repoints and GCs the orphaned old property
    withStdin("v2") { ZoeCli.run(spark, List("create-node", dir, "--update", "n1")) }
    val g = graft.model.GraphStore.load(spark, dir)
    assert(g.vertices.head().getString(1) == graft.model.Hashing.sha256HexUpper("v2"))
    assert(g.props.collect().map(_.getString(1)).toSeq == Seq("v2"))
  }

  test("CLI create-node stores a raw property as given under every flag") {
    import graft.io.ZoeCli
    val dir = java.nio.file.Files.createTempDirectory("graft-cli3").toString
    ZoeCli.run(spark, List("init", dir))
    def withStdin(text: String)(f: => Unit): Unit =
      Console.withIn(new java.io.ByteArrayInputStream(text.getBytes))(f)
    withStdin("v1") { ZoeCli.run(spark, List("create-node", dir, "--id", "n1")) }
    withStdin("v2") { ZoeCli.run(spark, List("create-node", dir, "--get-or-create")) }
    val g = graft.model.GraphStore.load(spark, dir)
    assert(g.props.select("value").collect().map(_.getString(0)).toSet == Set("v1", "v2"))
  }

  test("weighted graph surface extracts numeric weights from edge props") {
    import graft.analytics.GraphAnalytics
    import graft.model.PropValue
    val b = new graft.store.GraphBatch
    b.createNode("a", PropValue("N", Some("a")))
    b.createNode("c", PropValue("N", Some("c")))
    b.createEdge("a", "c", PropValue("Weight", Some("2.5")))
    val g = b.toStore(spark)
    assert(GraphAnalytics.weight(g, "a", "c") == Some(2.5))
    assert(GraphAnalytics.weight(g, "c", "a") == None)
    val we = GraphAnalytics.weightedEdges(g).head()
    assert(we.getDouble(3) == 2.5)
  }
}

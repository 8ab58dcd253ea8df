package graftbench

import graft.TpchGraph
import graft.model.PropValue
import graft.ql._

/** What an op collects at the sink. */
sealed trait Sink
object Sink {
  case object Vertices extends Sink
  case object Properties extends Sink
  case object PathProperties extends Sink
}

/** A customer a mutation batch created. `segEdge` is false once the batch
  * stream deleted its InSegment edge. */
final case class Created(name: String, nation: Int, segment: String, segEdge: Boolean)

/** Plain-Scala twin of the graph the benchmark expects graft to hold: the
  * generated base tables plus the live customers the batches created. The
  * expected result of every query template is computed from it with plain
  * Scala collections, a path independent of graft's Catalyst plans. */
final case class Mirror(t: Tables, created: Map[String, Created]) {
  private def regionOf(nation: Int): Int = nation % Gen.regions.size

  private lazy val baseByNation: Map[Int, Set[String]] =
    (t.customer.map(c => c.c_nationkey -> s"customer:${c.c_custkey}") ++
      t.supplier.map(s => s.s_nationkey -> s"supplier:${s.s_suppkey}"))
      .groupMap(_._1)(_._2).view.mapValues(_.toSet).toMap
  private lazy val baseBySegment: Map[String, Set[String]] =
    t.customer.groupMap(_.c_mktsegment)(c => s"customer:${c.c_custkey}")
      .view.mapValues(_.toSet).toMap
  private lazy val customerNation: Map[String, Int] =
    t.customer.map(c => s"customer:${c.c_custkey}" -> c.c_nationkey).toMap ++
      created.view.mapValues(_.nation)
  lazy val customerName: Map[String, String] =
    t.customer.map(c => s"customer:${c.c_custkey}" -> c.c_name).toMap ++
      created.view.mapValues(_.name)
  private lazy val customerSegment: Map[String, String] =
    t.customer.map(c => s"customer:${c.c_custkey}" -> c.c_mktsegment).toMap ++
      created.collect { case (id, c) if c.segEdge => id -> c.segment }

  def nationMembers(n: Int): Set[String] =
    baseByNation.getOrElse(n, Set.empty) ++ created.collect { case (id, c) if c.nation == n => id }
  def segmentMembers(s: String): Set[String] =
    baseBySegment.getOrElse(s, Set.empty) ++
      created.collect { case (id, c) if c.segEdge && c.segment == s => id }
  def customersInRegion(r: Int): Set[String] =
    customerNation.collect { case (id, n) if regionOf(n) == r => id }.toSet
  /** Out-neighbours of a member vertex: its nation, and its segment if any. */
  def outOf(id: String): Set[String] = id match {
    case s if s.startsWith("supplier:") =>
      Set(s"nation:${t.supplier(s.stripPrefix("supplier:").toInt).s_nationkey}")
    case c => Set(s"nation:${customerNation(c)}") ++ customerSegment.get(c).map(s => s"segment:$s")
  }
  def pathProps(r: Int): Set[String] = customersInRegion(r).map { c =>
    val n = customerNation(c)
    Seq(c, s"""{"Region":"${Gen.regions(r)}"}""", "\"InRegion\"", s"""{"Nation":"NATION_$n"}""",
      "\"InNation\"", s"""{"Customer":"${customerName(c)}"}""").mkString("|")
  }
  def partsSized(lo: Int, hi: Int): Set[String] =
    t.part.collect { case p if p.p_size >= lo && p.p_size <= hi => s"part:${p.p_partkey}" }.toSet

  // row counts graft's store must hold (TpchGraph's mapping, see its doc)
  def vertexCount: Long = 5 + 25 + t.customer.size + t.supplier.size + t.part.size +
    t.orders.size + t.customer.map(_.c_mktsegment).distinct.size + created.size
  def edgeCount: Long = 2L * t.customer.size + t.supplier.size + 25 + t.orders.size +
    created.size + created.values.count(_.segEdge)
  /** Typed props (order props dedup to one per priority), 4 edge-label
    * units and 11 SchemaType props, plus one per created customer. */
  def propCount: Long = 5 + 25 + t.customer.size + t.supplier.size + t.part.size +
    t.orders.map(_.o_orderpriority).distinct.size +
    t.customer.map(_.c_mktsegment).distinct.size + 4 + 11 + created.size
}

/** A read op: the query's wire form and its expected result. */
final case class ReadOp(template: String, json: String, sink: Sink, expect: Mirror => Set[String])

/** A mutation batch: customers to create, created customers to delete
  * (with their edges), and created customers whose InSegment edge to drop. */
final case class Batch(index: Int, create: Seq[(String, Created)], delete: Seq[String],
                       dropSegEdge: Seq[String]) {
  def describe: String =
    s"batch $index +${create.map(_._1).mkString(",")} -${delete.mkString(",")} ~${dropSegEdge.mkString(",")}"
  def apply(m: Mirror): Mirror = m.copy(created =
    (m.created -- delete).map { case (id, c) =>
      id -> (if (dropSegEdge.contains(id)) c.copy(segEdge = false) else c)
    } ++ create)
}

/** The Zoe query templates, parameterized from a seed. */
object ZoeOps {
  import VertexQuery.{Property => VP}

  val templates: Seq[String] = Seq("point", "lattice", "in1", "out1", "region2", "union",
    "intersect", "substract", "disjunctive", "fromto", "store", "path_props", "sql_filter")

  private def prop(variant: String, payload: String): PropertyQuery =
    PropertyQuery.Specific(PropValue(variant, Some(payload)).hash)
  private def edgeProp(variant: String): EdgeQuery =
    EdgeQuery.Property(PropertyQuery.Specific(TpchGraph.unitHash(variant)))
  private def vType(variant: String): VertexQuery =
    VP(PropertyQuery.Specific(TpchGraph.stHash(variant)).referencingProperties)

  private def nationIn(n: Int): VertexQuery =
    VP(prop("Nation", s"NATION_$n")).ingoing.ingoing
  private def segmentIn(s: String): VertexQuery =
    VP(prop("Segment", s)).ingoing.ingoing
  private def regionCustomers(r: Int): VertexQuery =
    VP(prop("Region", Gen.regions(r))).ingoing.intersect(edgeProp("InRegion")).ingoing
      .ingoing.intersect(edgeProp("InNation")).ingoing
      .intersect(vType("Customer"))

  /** Rounds of reads per cycle: a round runs every template once. */
  val rounds: Int = 2
  /** Ops per cycle: a batch, then `rounds` rounds of reads. */
  val cycle: Int = 1 + rounds * templates.size
  def isWrite(i: Int): Boolean = i % cycle == 0

  /** Read op `i` of the closed loop for `seed`: the round's next template,
    * its parameters drawn from the seed. */
  def read(seed: Long, i: Int, t: Tables): ReadOp = {
    val r = Gen.rng(seed, s"read$i")
    val name = templates((i % cycle - 1) % templates.size)
    val a = r.nextInt(Gen.nations)
    val b = (a + 1 + r.nextInt(Gen.nations - 1)) % Gen.nations
    val seg = Gen.segments(r.nextInt(Gen.segments.size))
    val region = r.nextInt(Gen.regions.size)
    def v(q: VertexQuery, sink: Sink, expect: Mirror => Set[String]) =
      ReadOp(name, ZoeJson.render(BasicQuery.V(q)), sink, expect)
    name match {
      case "point" =>
        val c = t.customer(r.nextInt(t.customer.size))
        v(VP(prop("Customer", c.c_name)), Sink.Vertices, _ => Set(s"customer:${c.c_custkey}"))
      case "lattice" =>
        val (variant, payloads) = Seq("Region" -> Gen.regions,
          "Nation" -> (0 until Gen.nations).map(n => s"NATION_$n"),
          "Segment" -> t.customer.map(_.c_mktsegment).distinct)(r.nextInt(3))
        val q = PropertyQuery.Specific(TpchGraph.stHash(variant)).referencingProperties
        ReadOp(name, ZoeJson.render(BasicQuery.P(q)), Sink.Properties,
          _ => payloads.map(p => PropValue(variant, Some(p)).hash).toSet)
      case "in1" => v(nationIn(a), Sink.Vertices, _.nationMembers(a))
      case "out1" =>
        val id = s"customer:${t.customer(r.nextInt(t.customer.size)).c_custkey}"
        v(VertexQuery.Specific(Seq(id)).outgoing.outgoing, Sink.Vertices, _.outOf(id))
      case "region2" => v(regionCustomers(region), Sink.Vertices, _.customersInRegion(region))
      case "union" =>
        v(nationIn(a).union(nationIn(b)), Sink.Vertices, m => m.nationMembers(a) ++ m.nationMembers(b))
      case "intersect" =>
        v(nationIn(a).intersect(segmentIn(seg)), Sink.Vertices,
          m => m.nationMembers(a) intersect m.segmentMembers(seg))
      case "substract" =>
        v(nationIn(a).substract(segmentIn(seg)), Sink.Vertices,
          m => m.nationMembers(a) diff m.segmentMembers(seg))
      case "disjunctive" =>
        v(nationIn(a).disjunctiveUnion(segmentIn(seg)), Sink.Vertices, { m =>
          val (x, y) = (m.nationMembers(a), m.segmentMembers(seg))
          (x diff y) ++ (y diff x)
        })
      case "fromto" =>
        val lo = 1 + r.nextInt(45)
        val hi = lo + r.nextInt(5)
        v(VP(PropertyQuery.FromTo(f"psz_$lo%03d_", f"psz_$hi%03d_~")), Sink.Vertices,
          _.partsSized(lo, hi))
      case "store" =>
        v(nationIn(a).store.outgoing.outgoing, Sink.Vertices,
          m => m.nationMembers(a) ++ m.nationMembers(a).flatMap(m.outOf))
      case "path_props" => v(regionCustomers(region), Sink.PathProperties, _.pathProps(region))
      case "sql_filter" =>
        val (variant, prefix) = Seq("Customer" -> "customer:", "Supplier" -> "supplier:")(r.nextInt(2))
        v(nationIn(a).filter(ZFilter("sql", s"schema_type = '$variant'")), Sink.Vertices,
          _.nationMembers(a).filter(_.startsWith(prefix)))
    }
  }

  /** Mutation batch `b` against the customers `live` that earlier batches
    * created: 30 new customers, up to 10 deletions and up to 5 dropped
    * InSegment edges, chosen from the seed. */
  def batch(seed: Long, b: Int, live: Map[String, Created]): Batch = {
    val r = Gen.rng(seed, s"batch$b")
    val create = (0 until 30).map { j =>
      val key = 100000000L + b * 100L + j
      s"customer:$key" -> Created(f"Customer#9$b%04d$j%04d", r.nextInt(Gen.nations),
        Gen.segments(r.nextInt(Gen.segments.size)), segEdge = true)
    }
    val ids = live.keys.toSeq.sorted
    val picked = ids.filter(_ => r.nextInt(4) == 0).take(15)
    val (delete, rest) = picked.splitAt(10)
    Batch(b, create, delete, rest.filter(live(_).segEdge))
  }

  /** The op sequence as text, for the digest: reads render their wire JSON,
    * batches their ids. Batches depend only on the seed and earlier batches,
    * so the sequence is fixed before graft runs. */
  def describe(seed: Long, t: Tables, n: Int): Iterator[String] = {
    var live = Map.empty[String, Created]
    var batches = 0
    Iterator.range(0, n).map { i =>
      if (isWrite(i)) {
        val b = batch(seed, batches, live)
        batches += 1
        live = b(Mirror(t, live)).created
        b.describe
      } else read(seed, i, t).json
    }
  }
}

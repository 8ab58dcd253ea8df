package graftbench

import java.sql.Timestamp
import java.util.SplittableRandom

// TPC-H-shaped rows; field names are the parquet column names graft reads.
final case class Region(r_regionkey: Int, r_name: String)
final case class Nation(n_nationkey: Int, n_name: String, n_regionkey: Int)
final case class Customer(c_custkey: Long, c_name: String, c_nationkey: Int,
                          c_acctbal: Double, c_mktsegment: String)
final case class Supplier(s_suppkey: Long, s_name: String, s_nationkey: Int, s_acctbal: Double)
final case class Part(p_partkey: Long, p_name: String, p_brand: String, p_type: String,
                      p_size: Int, p_retailprice: Double)
final case class Order(o_orderkey: Long, o_custkey: Long, o_orderstatus: String,
                       o_totalprice: Double, o_orderdate: Timestamp, o_orderpriority: String)
final case class LineItem(l_orderkey: Long, l_partkey: Long, l_suppkey: Long, l_linenumber: Int,
                          l_quantity: Double, l_extendedprice: Double, l_discount: Double,
                          l_tax: Double, l_returnflag: String, l_linestatus: String,
                          l_shipdate: Timestamp)
final case class Doc(doc_id: Long, text: String, lang: String, source: String, n_chars: Long)

/** The generated TPC-H-shaped tables. Everything graft sees is derived
  * from the seed; the same seed gives the same rows. */
final case class Tables(
    region: Seq[Region], nation: Seq[Nation], customer: Seq[Customer],
    supplier: Seq[Supplier], part: Seq[Part], orders: Seq[Order],
    lineitem: Seq[LineItem])

object Gen {
  val regions: Seq[String] = Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
  val segments: Seq[String] = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  val priorities: Seq[String] = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  val nations = 25
  // TPC-H sf0.01 row counts (the graph workloads) and an 1 800-document
  // corpus, planted duplicates included (the curation workload)
  val customers = 1500
  val suppliers = 100
  val parts = 2000
  val orders = 15000
  val docs = 1800

  /** Independent random stream per (seed, purpose), so adding draws to one
    * table never shifts another table's rows. */
  def rng(seed: Long, salt: String): SplittableRandom =
    new SplittableRandom(seed * 1000003L ^ salt.hashCode.toLong * 0x9E3779B97F4A7C15L)

  private val colors = Seq("red", "blue", "green", "small", "large", "steel", "brass", "matte")
  private val things = Seq("widget", "bolt", "ring", "gear", "valve", "panel", "hinge", "spring")
  private val epoch = Timestamp.valueOf("1995-01-01 00:00:00").getTime

  private def day(r: SplittableRandom): Timestamp =
    new Timestamp(epoch + r.nextInt(2500) * 86400000L)
  private def money(r: SplittableRandom, hi: Int): Double =
    r.nextInt(hi * 100) / 100.0

  def tables(seed: Long): Tables = {
    val region = regions.zipWithIndex.map { case (n, k) => Region(k, n) }
    val nation = (0 until nations).map(k => Nation(k, s"NATION_$k", k % regions.size))
    val rc = rng(seed, "customer")
    val customer = (0 until customers).map { k =>
      Customer(k, f"Customer#$k%09d", rc.nextInt(nations), money(rc, 10000),
        segments(rc.nextInt(segments.size)))
    }
    val rs = rng(seed, "supplier")
    val supplier = (0 until suppliers).map { k =>
      Supplier(k, f"Supplier#$k%09d", rs.nextInt(nations), money(rs, 10000))
    }
    val rp = rng(seed, "part")
    val part = (0 until parts).map { k =>
      Part(k, s"${colors(rp.nextInt(colors.size))} ${things(rp.nextInt(things.size))}",
        s"Brand#${1 + rp.nextInt(25)}", Seq("ECONOMY", "SMALL", "LARGE", "PROMO")(rp.nextInt(4)),
        1 + rp.nextInt(50), 900.0 + k / 10.0)
    }
    val ro = rng(seed, "orders")
    val orders = (0 until Gen.orders).map { k =>
      Order(k, ro.nextInt(customers), Seq("F", "O", "P")(ro.nextInt(3)),
        money(ro, 500000), day(ro), priorities(ro.nextInt(priorities.size)))
    }
    // part popularity is skewed (squared uniform), so the co-purchase graph
    // has a dense core for k-core peeling and non-trivial components
    val rl = rng(seed, "lineitem")
    val lineitem = orders.flatMap { o =>
      (1 to 1 + rl.nextInt(7)).map { ln =>
        val u = rl.nextDouble()
        LineItem(o.o_orderkey, (u * u * parts).toLong, rl.nextInt(suppliers), ln,
          1 + rl.nextInt(50), money(rl, 100000), rl.nextInt(11) / 100.0,
          rl.nextInt(9) / 100.0, Seq("A", "N", "R")(rl.nextInt(3)), Seq("F", "O")(rl.nextInt(2)),
          day(rl))
      }
    }
    Tables(region, nation, customer, supplier, part, orders, lineitem)
  }

  def sha256(s: String): String = graft.model.Hashing.sha256HexUpper(s)
}

/** Seeded document corpus: multilingual word soup with planted exact and
  * near duplicates. The seed sets the duplicate shares and the edits. */
object Corpus {
  private val english = Seq("the", "and", "of", "to", "a", "in", "is", "that")
  private val markers = Map(
    "de" -> Seq("der", "die", "und", "das", "nicht", "ist"),
    "fr" -> Seq("le", "la", "et", "les", "des", "est"),
    "es" -> Seq("el", "los", "las", "una", "es", "que"))
  private val vocab = Seq("data", "graph", "query", "table", "join", "scan", "row", "column",
    "stream", "batch", "window", "order", "customer", "part", "line", "value", "key",
    "filter", "group", "sort", "merge", "hash", "vector", "fast", "slow", "big", "small",
    "spark", "node", "edge", "path", "store", "index", "cache", "shard", "block", "page",
    "token", "model", "train", "score", "rank", "label", "cluster", "plan", "stage", "task")

  def documents(seed: Long, n: Int): Seq[Doc] = {
    val r = Gen.rng(seed, "documents")
    (0 until n).map { k =>
      val lang = r.nextInt(10) match {
        case 0 => "de"; case 1 => "fr"; case 2 => "es"; case _ => "en"
      }
      val stop = if (lang == "en") english else markers(lang)
      val len = r.nextInt(10) match {
        case 0 => 2 + r.nextInt(4) // too short for the quality filter
        case _ => 20 + r.nextInt(70)
      }
      val stopShare = 2 + r.nextInt(6) // one word in stopShare is a stopword
      val words = (0 until len).map { _ =>
        if (r.nextInt(stopShare) == 0) stop(r.nextInt(stop.size)) else vocab(r.nextInt(vocab.size))
      }
      val text = (if (r.nextInt(20) == 0) words :+ (1000 + r.nextInt(9000)).toString else words)
        .mkString(" ")
      Doc(k, text, lang, s"src${k % 7}", text.length)
    }
  }

  /** (base documents, corpus): the corpus is the base documents plus exact
    * copies and near copies (1-3 word edits) of seeded picks, `total`
    * documents in all whatever shares the seed draws; copies get fresh ids
    * above the base range. */
  def build(seed: Long, total: Int): (Seq[Doc], Seq[Doc]) = {
    val r = Gen.rng(seed, "planted")
    val exactShare = 5 + r.nextInt(6)  // percent of the base documents
    val nearShare = 10 + r.nextInt(11) // percent of the base documents
    val docs = documents(seed, total * 100 / (100 + exactShare + nearShare))
    val exact = (0 until docs.size * exactShare / 100).map { i =>
      docs(r.nextInt(docs.size)).copy(doc_id = 1000000L + i)
    }
    val near = (0 until docs.size * nearShare / 100).map { i =>
      val d = docs(r.nextInt(docs.size))
      val w = d.text.split(" ").toBuffer
      (0 until 1 + r.nextInt(3)).foreach { _ =>
        val at = r.nextInt(w.size)
        r.nextInt(3) match {
          case 0 => w(at) = vocab(r.nextInt(vocab.size))
          case 1 => w.insert(at, vocab(r.nextInt(vocab.size)))
          case _ => if (w.size > 1) w.remove(at)
        }
      }
      val text = w.mkString(" ")
      d.copy(doc_id = 2000000L + i, text = text, n_chars = text.length)
    }
    (docs, docs ++ exact ++ near)
  }
}

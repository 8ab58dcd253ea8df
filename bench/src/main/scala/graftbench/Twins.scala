package graftbench

import scala.collection.mutable

/** Expected results of the batch workloads, computed in the benchmark's JVM with
  * plain Scala collections from the generated inputs. Each twin follows the
  * repo's DuckDB oracle formulation of the same operator (closed forms where
  * the member -> nation -> region tree allows them), not graft's plans. */
object AnalyticsTwin {
  /** The analytics subgraph's long ids (disjoint ranges per vertex kind). */
  def vid(id: String): Long = {
    val Array(kind, key) = id.split(":", 2)
    key.toLong + (kind match {
      case "region" => 0L; case "nation" => 100L; case "supplier" => 10000L; case "customer" => 1000000L
    })
  }

  private def members(t: Tables): Seq[(String, Int)] =
    t.customer.map(c => s"customer:${c.c_custkey}" -> c.c_nationkey) ++
      t.supplier.map(s => s"supplier:${s.s_suppkey}" -> s.s_nationkey)

  /** Directed subgraph edges: member -> nation, nation -> region. */
  def edges(t: Tables): Seq[(String, String)] =
    members(t).map { case (m, n) => m -> s"nation:$n" } ++
      t.nation.map(n => s"nation:${n.n_nationkey}" -> s"region:${n.n_regionkey}")

  def vertices(t: Tables): Seq[String] =
    t.region.map(r => s"region:${r.r_regionkey}") ++ t.nation.map(n => s"nation:${n.n_nationkey}") ++
      members(t).map(_._1)

  def round(x: Double, scale: Int): Double =
    BigDecimal(x).setScale(scale, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** PageRank of the two-level subgraph, which converges within the
    * workload's 3 iterations, |V|-normalized, rounded to 5 places. */
  def pageRank(t: Tables): Map[String, Double] = {
    val m = members(t).groupMapReduce(_._2)(_ => 1)(_ + _)
    val nr = t.nation.map(n => n -> (0.15 + 0.85 * 0.15 * m.getOrElse(n.n_nationkey, 0))).toMap
    val ranks = members(t).map(_._1 -> 0.15) ++
      nr.map { case (n, r) => s"nation:${n.n_nationkey}" -> r } ++
      t.region.map(r => s"region:${r.r_regionkey}" ->
        (0.15 + 0.85 * nr.collect { case (n, x) if n.n_regionkey == r.r_regionkey => x }.sum))
    val (s, n) = (ranks.map(_._2).sum, ranks.size)
    ranks.map { case (id, r) => id -> round(r * n / s, 5) }.toMap
  }

  /** Personalized PageRank from the customers with key % 10 == residue, in
    * micro-units: reset mass 0.15 per seed, damped 0.85 per hop up the tree. */
  def ppr(t: Tables, residue: Int): Map[String, Long] = {
    val seeds = t.customer.filter(_.c_custkey % 10 == residue)
    val perNation = seeds.groupMapReduce(_.c_nationkey)(_ => 1L)(_ + _)
    members(t).map { case (id, _) =>
      id -> (if (id.startsWith("customer:") && id.stripPrefix("customer:").toLong % 10 == residue) 150000L else 0L)
    }.toMap ++
      t.nation.map(n => s"nation:${n.n_nationkey}" -> 127500L * perNation.getOrElse(n.n_nationkey, 0L)) ++
      t.region.map(r => s"region:${r.r_regionkey}" -> 108375L *
        t.nation.filter(_.n_regionkey == r.r_regionkey).map(n => perNation.getOrElse(n.n_nationkey, 0L)).sum)
  }

  /** Synchronous label propagation over the symmetrized subgraph: each
    * round a vertex takes its neighbours' most frequent label, smallest
    * label on ties. */
  def lpa(t: Tables, rounds: Int): Map[String, Long] = {
    val adj = edges(t).flatMap { case (a, b) => Seq(vid(a) -> vid(b), vid(b) -> vid(a)) }.distinct
      .groupMap(_._1)(_._2)
    var labels = vertices(t).map(v => vid(v) -> vid(v)).toMap
    for (_ <- 1 to rounds) {
      labels = labels.map { case (v, l) =>
        v -> adj.get(v).fold(l) { nbrs =>
          nbrs.groupMapReduce(labels)(_ => 1)(_ + _).toSeq.minBy { case (lbl, c) => (-c, lbl) }._1
        }
      }
    }
    vertices(t).map(v => v -> labels(vid(v))).toMap
  }

  /** Hop distance to each landmark region, following edge direction. */
  def sssp(t: Tables, landmarks: Set[Int]): Set[(String, Long, Long)] = {
    val region = t.nation.map(n => n.n_nationkey -> n.n_regionkey).toMap
    (t.region.map(r => (s"region:${r.r_regionkey}", r.r_regionkey, 0)) ++
      t.nation.map(n => (s"nation:${n.n_nationkey}", n.n_regionkey, 1)) ++
      members(t).map { case (id, n) => (id, region(n), 2) })
      .collect { case (id, l, d) if landmarks(l) => (id, l.toLong, d.toLong) }.toSet
  }

  /** Two exact-integer HITS iterations (hub, authority). */
  def hits(t: Tables): Map[String, (Long, Long)] = {
    val e = edges(t)
    val h1 = e.groupMapReduce(_._1)(_ => 1L)(_ + _)
    val a1 = e.groupMapReduce(_._2)(x => h1(x._1))(_ + _)
    val h2 = e.groupMapReduce(_._1)(x => a1(x._2))(_ + _)
    val a2 = e.groupMapReduce(_._2)(x => h2(x._1))(_ + _)
    vertices(t).map(v => v -> (h2.getOrElse(v, 0L), a2.getOrElse(v, 0L))).toMap
  }

  /** Triangles through each vertex of the undirected subgraph. */
  def triangles(t: Tables): Map[String, Long] = {
    val und = edges(t).map { case (a, b) => if (a < b) (a, b) else (b, a) }.distinct
    val adj = und.flatMap { case (a, b) => Seq(a -> b, b -> a) }.groupMap(_._1)(_._2)
      .view.mapValues(_.toSet).toMap
    val n = mutable.Map.empty[String, Long].withDefaultValue(0L)
    for ((a, b) <- und; c <- adj(a) intersect adj(b) if c > b; v <- Seq(a, b, c)) n(v) += 1
    vertices(t).map(v => v -> n(v)).toMap
  }

  /** Part pairs bought together in at least two distinct orders. */
  def coPairs(t: Tables): Set[(Long, Long, Long)] =
    t.lineitem.groupMap(_.l_orderkey)(_.l_partkey).values.toSeq
      .flatMap { ps => val d = ps.distinct.sorted; for (i <- d.indices; j <- i + 1 until d.size) yield (d(i), d(j)) }
      .groupMapReduce(identity)(_ => 1L)(_ + _)
      .collect { case ((a, b), w) if w >= 2 => (a, b, w) }.toSet

  /** k-core by peeling: (vertex, degree inside the core). */
  def kCore(pairs: Set[(Long, Long, Long)], k: Int): Map[Long, Long] = {
    var live = pairs.flatMap(p => Seq(p._1, p._2))
    var done = false
    var deg = Map.empty[Long, Long]
    while (!done) {
      deg = pairs.toSeq.filter(p => live(p._1) && live(p._2))
        .flatMap(p => Seq(p._1, p._2)).groupMapReduce(identity)(_ => 1L)(_ + _)
      val next = deg.collect { case (v, d) if d >= k => v }.toSet
      done = next == live
      live = next
    }
    deg.filter { case (v, _) => live(v) }
  }

  /** Connected components: vertex -> smallest vertex of its component. */
  def components(pairs: Set[(Long, Long, Long)]): Map[Long, Long] = {
    val parent = mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    for ((a, b, _) <- pairs) {
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { parent(math.max(ra, rb)) = math.min(ra, rb) }
    }
    parent.keys.map(v => v -> find(v)).toMap
  }

  /** Seeded uniform walks over the symmetrized pair graph: one walk per
    * node, step s picks neighbour (md5(seed|walk|s) mod degree) of the
    * dst-sorted adjacency. Rows (walk, step, node). */
  def walks(pairs: Set[(Long, Long, Long)], len: Int, seed: String): Set[(Long, Long, Long)] = {
    val adj = pairs.toSeq.flatMap(p => Seq(p._1 -> p._2, p._2 -> p._1)).distinct
      .groupMap(_._1)(_._2).view.mapValues(_.sorted.toIndexedSeq).toMap
    adj.keys.toSeq.flatMap { w =>
      var node = w
      (0 to len).map { s =>
        if (s > 0) {
          val nb = adj(node)
          val pick = java.lang.Long.parseLong(md5(s"$seed|$w|$s").take(12), 16) % nb.size
          node = nb(pick.toInt)
        }
        (w, s.toLong, node)
      }
    }.toSet
  }

  def md5(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8)).map("%02x".format(_)).mkString
}

/** Plain-Scala twin of the curation pass, following the DuckDB oracle of
  * graft's curate_pipeline entry: quality + language filter, 5-gram
  * decontamination, exact dedup, MinHash-banded 3-gram Jaccard >= 0.5,
  * components, survivors, per-shard sequence packing. */
object CurationTwin {
  final case class Packed(docId: Long, shard: Long, chunk: Long, offset: Long)

  private val qualityStop = Seq("the", "and", "of", "to", "a", "in", "is", "that")
  private val langs = Seq(
    "en" -> Seq("the", "and", "of", "to", "is", "that"),
    "de" -> Seq("der", "die", "und", "das", "nicht", "ist"),
    "fr" -> Seq("le", "la", "et", "les", "des", "est"),
    "es" -> Seq("el", "los", "las", "una", "es", "que"))

  def norm(text: String): String = text.toLowerCase.replaceAll("[^a-z0-9]+", " ").trim
  private def words(text: String): Array[String] = norm(text).split(" ", -1)
  private def occurrences(padded: String, w: String): Long =
    (padded.length - padded.replace(s" $w ", "").length) / (w.length + 2)
  private def r4(x: Double): Double = AnalyticsTwin.round(x, 4)

  def nWords(text: String): Long = if (norm(text).isEmpty) 0 else words(text).length

  def quality(text: String): Double = {
    val nw = nWords(text).toDouble
    val p = s" ${norm(text)} "
    val stop = if (nw == 0) 0.0 else r4(qualityStop.map(occurrences(p, _)).sum / nw)
    val digits = if (text.isEmpty) 0.0
      else r4((text.length - text.replaceAll("[0-9]", "").length).toDouble / text.length)
    r4(math.max(0.0, math.min(nw / 100.0, 1.0) * 0.4 + math.min(stop * 4.0, 1.0) * 0.4 +
      (1.0 - math.min(digits * 5.0, 1.0)) * 0.2))
  }

  /** Marker-word language guess; ties go to the last language code. */
  def lang(text: String): String = {
    val p = s" ${norm(text)} "
    val scores = langs.map { case (l, ws) => l -> ws.map(occurrences(p, _)).sum }
    val best = scores.map(_._2).max
    if (best == 0) "und" else scores.filter(_._2 == best).map(_._1).max
  }

  private def shingles(text: String, n: Int): Set[String] = {
    val w = words(text)
    if (w.length < n) Set.empty else w.sliding(n).map(_.mkString(" ")).toSet
  }

  /** The packed survivors: (doc, shard, chunk, offset). */
  def run(corpus: Seq[Doc], documents: Seq[Doc]): Set[Packed] = {
    val filtered = corpus.filter(d => nWords(d.text) >= 5 && lang(d.text) == "en" && quality(d.text) >= 0.35)
    val bench = documents.filter(_.doc_id % 10 == 3).flatMap(d => shingles(d.text, 5)).toSet
    val decon = filtered.filterNot(d => shingles(d.text, 5).exists(bench))
    val exact = decon.groupBy(d => AnalyticsTwin.md5(d.text)).values.map(_.minBy(_.doc_id)).toSeq
    val sh = exact.map(d => d.doc_id -> shingles(d.text, 3)).filter(_._2.nonEmpty).toMap
    val banded = sh.toSeq.flatMap { case (id, s) =>
      (0 until 4).map(i => (i, s.map(x => AnalyticsTwin.md5(x).substring(8 * i, 8 * i + 8)).min) -> id)
    }.groupMap(_._1)(_._2).values.filter(_.size <= 1024)
    val cand = banded.flatMap { ids =>
      val s = ids.sorted; for (i <- s.indices; j <- i + 1 until s.size) yield (s(i), s(j))
    }.toSet
    val verified = cand.filter { case (a, b) =>
      val i = (sh(a) intersect sh(b)).size
      r4(i.toDouble / (sh(a).size + sh(b).size - i)) >= 0.5
    }
    val cluster = AnalyticsTwin.components(verified.map { case (a, b) => (a, b, 1L) })
    val surv = exact.filterNot(d => cluster.get(d.doc_id).exists(_ < d.doc_id))
    surv.groupBy(_.doc_id % 8).toSeq.flatMap { case (shard, ds) =>
      var start = 0L
      ds.sortBy(_.doc_id).map { d =>
        val p = Packed(d.doc_id, shard, start / 512, start % 512)
        start += nWords(d.text)
        p
      }
    }.toSet
  }
}

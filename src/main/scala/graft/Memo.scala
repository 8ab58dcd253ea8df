package graft

import java.util.concurrent.{ConcurrentHashMap, CopyOnWriteArrayList}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession

/** One per-(session, dir) memo of the query inventory: a build evaluated
  * once per key, registered under a name and a [[Memo.Kind]] together with
  * the entries [[Memo.stage]] warms it for and the entries timed cold
  * against it. Construct with [[Memo.apply]], [[Memo.keyed]] or
  * [[Memo.coldResult]].
  */
final class Memo[K, V] private (
    val name: String,
    val kind: Memo.Kind,
    val stagedFor: Map[String, K],
    val coldFor: Set[String],
    build: (SparkSession, String, K) => V) {

  // ConcurrentHashMap.computeIfAbsent guarantees ONE evaluation per key —
  // TrieMap.getOrElseUpdate may run the builder twice under a race, which
  // means double repartition+persist+count jobs for the same value. One
  // map per memo: nested builds (leiden → louvain → co-purchase pairs →
  // probe; graph → base table) would be a recursive computeIfAbsent on a
  // single shared map.
  private val built = new ConcurrentHashMap[(SparkSession, String, K), Memo.Built[V]]

  def apply(s: SparkSession, d: String, key: K): V =
    built.computeIfAbsent((s, d, key), _ => Memo.building(build(s, d, key))).value

  def apply(s: SparkSession, d: String)(implicit unit: Unit =:= K): V = apply(s, d, unit(()))

  /** The values built for (s, d) with the temp dirs each build made. */
  private[graft] def held(s: SparkSession, d: String): Seq[Memo.Built[V]] =
    built.asScala.collect { case ((s0, d0, _), b) if (s0 eq s) && d0 == d => b }.toSeq

  private def stage(entry: String, s: SparkSession, d: String): Unit =
    stagedFor.get(entry).foreach(apply(s, d, _))

  private def bust(s: SparkSession, d: String): Unit =
    built.keySet.asScala.toSeq.filter(k => (k._1 eq s) && k._2 == d)
      .foreach(k => Option(built.remove(k)).foreach(Memo.release))
}

/** The registry of every [[Memo]] and the bench policy derived from it.
  *
  * Kinds:
  *  - [[Memo.Fixture]]: corpus inputs and build-once artifacts (base
  *    tables, the graph, stream source fixtures, trained ANN indexes, the
  *    NB serving model). Never busted by Bench: they are the one-time
  *    input, not the measured work.
  *  - [[Memo.Shared]]: shared-input pre-passes over one corpus version
  *    (co-purchase and clique pairs, near-dup labels, the walk corpus,
  *    community partitions, the export manifest). An entry timed cold
  *    against one of them busts every `Shared` memo before each run.
  *  - [[Memo.Stream]]: the result of one real streaming run. A stream
  *    entry busts every `Stream` memo before each run, so its time is the
  *    stream pipeline, not a lookup.
  *
  * Verify never stages or busts: correctness is temperature-independent,
  * and keeping every value stops repeated harness invocations from
  * accumulating temp dirs and streaming sinks.
  *
  * A bust works on a whole kind, never on one memo: one memo's value may
  * scan another memo's local checkpoint (the walk corpus and the
  * partitions read the co-purchase pairs), and releasing one alone would
  * leave a live value over unpersisted blocks. Releasing a value
  * unpersists its frames and the checkpointed RDDs they scan, and deletes
  * the temp dirs its build made with [[Memo.tempDir]].
  *
  * A memo-cold consumer of a `Shared` memo pays the memo's eager
  * checkpoint plus a scan of it inside its timed run, not the lazy
  * in-plan subtree entries compiled to before the memos existed: its
  * time includes the materialization, and its plan reads a LogicalRDD.
  */
object Memo {
  sealed trait Kind
  case object Fixture extends Kind
  case object Shared extends Kind
  case object Stream extends Kind
  val kinds: Seq[Kind] = Seq(Fixture, Shared, Stream)

  private[graft] final case class Built[V](value: V, tempDirs: Seq[String])

  private def release(b: Built[_]): Unit = { Materialize.release(b.value); b.tempDirs.foreach(deleteTree) }

  private val registry = new CopyOnWriteArrayList[Memo[_, _]]

  /** Register a memo keyed by (session, dir). */
  def apply[V](name: String, kind: Kind, stagedFor: Set[String] = Set.empty,
               coldFor: Set[String] = Set.empty)
              (build: (SparkSession, String) => V): Memo[Unit, V] =
    keyed[Unit, V](name, kind, stagedFor.map(_ -> (())).toMap, coldFor)((s, d, _) => build(s, d))

  /** Register a memo keyed by (session, dir, key); `stagedFor` maps each
    * entry it is staged for to the key [[stage]] warms. */
  def keyed[K, V](name: String, kind: Kind, stagedFor: Map[String, K] = Map.empty[String, K],
                  coldFor: Set[String] = Set.empty)
                 (build: (SparkSession, String, K) => V): Memo[K, V] = {
    val m = new Memo(name, kind, stagedFor, coldFor, build)
    registry.add(m)
    m
  }

  /** An entry whose whole result is a memo of `kind`, timed cold. */
  def coldResult[V](entry: String, kind: Kind)
                   (build: (SparkSession, String) => V): (SparkSession, String) => V = {
    val m = apply(entry, kind, coldFor = Set(entry))(build)
    (s, d) => m(s, d)
  }

  /** Every registered memo, in registration order. A memo registers when
    * its owner object initializes, so this initializes the owners first. */
  lazy val all: Seq[Memo[_, _]] = {
    Seq[AnyRef](TpchGraph, GraphQueries, PipelineQueries)
    registry.asScala.toSeq
  }

  /** Entries whose one-time inputs [[stage]] builds outside the timed run. */
  lazy val prestaged: Set[String] = all.flatMap(_.stagedFor.keys).toSet

  /** Entries timed cold: [[bustBefore]] busts a kind before each run. */
  lazy val coldEntries: Set[String] = all.flatMap(_.coldFor).toSet

  /** Build every memo `entry` is staged for. */
  def stage(entry: String, s: SparkSession, d: String): Unit =
    all.foreach(_.stage(entry, s, d))

  /** Bust the kind of every memo `entry` is timed cold against. */
  def bustBefore(entry: String, s: SparkSession, d: String): Unit =
    all.filter(_.coldFor(entry)).map(_.kind).distinct.foreach(bust(_, s, d))

  /** Drop and release every (s, d) value of every memo of `kind`. */
  def bust(kind: Kind, s: SparkSession, d: String): Unit =
    all.filter(_.kind == kind).foreach(_.bust(s, d))

  private val pendingDirs = new ThreadLocal[List[String]]

  /** A fresh temp dir, deleted when the memo whose build made it is busted. */
  def tempDir(prefix: String): String = {
    val dir = java.nio.file.Files.createTempDirectory(prefix).toString
    Option(pendingDirs.get).foreach(ds => pendingDirs.set(dir :: ds))
    dir
  }

  private def building[V](body: => V): Built[V] = {
    val outer = pendingDirs.get
    pendingDirs.set(Nil)
    try Built(body, pendingDirs.get)
    finally pendingDirs.set(outer)
  }

  /** Delete a local dir tree, children before parents. */
  private def deleteTree(dir: String): Unit = {
    val root = java.nio.file.Paths.get(dir)
    if (java.nio.file.Files.exists(root)) {
      val walk = java.nio.file.Files.walk(root)
      try walk.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .forEach(p => { java.nio.file.Files.deleteIfExists(p); () })
      finally walk.close()
    }
  }
}

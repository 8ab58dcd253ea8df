package graft
import org.apache.spark.sql.{SparkSession, DataFrame}
/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt. */
object SparkEntry {
  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0:
    * the two-hop Zoe traversal (customers of region EUROPE with full path
    * extraction) through the TpchGraph mapping. */
  def entry(spark: SparkSession): DataFrame =
    queries("zoe_paths_europe")(spark, "/root/testdata/sf0.001")

  /** Whether [[Bench]] times an entry. Only two classes are excused:
    *  - [[Micro]]: the input is a hand-built toy (the mutation, GraphML
    *    and weighted-graph fixtures) or a literal id list, so the time
    *    measures session overhead, not an operator.
    *  - [[SiblingOf]]`(x)`: `x` is a benched entry whose plan contains this
    *    entry's plan, or differs from it only in a constant, so a
    *    regression here shows in `x`'s time.
    *
    * Everything else is [[Benched]], the default: an entry with a real
    * input and a plan of its own is timed without anyone listing it. */
  sealed trait BenchClass
  case object Benched extends BenchClass
  case object Micro extends BenchClass
  final case class SiblingOf(name: String) extends BenchClass

  /** One inventory entry: its builder, the ANSI SQL a DuckDB oracle runs
    * on the same parquet tables, and its bench class. */
  final case class Entry(name: String, build: (SparkSession, String) => DataFrame,
                         oracleSql: String, bench: BenchClass = Benched)

  /** Every entry, in declaration order: the graph queries, then the
    * training-data-pipeline operators. */
  val entries: Seq[Entry] = {
    val all = GraphQueries.entries ++ PipelineQueries.entries
    val dups = all.groupBy(_.name).collect { case (n, es) if es.size > 1 => n }
    require(dups.isEmpty, s"duplicate entry names: ${dups.mkString(", ")}")
    all
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] =
    entries.map(e => e.name -> e.build).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. */
  val oracleSql: Map[String, String] = entries.map(e => e.name -> e.oracleSql).toMap

  /** The names Bench times, in declaration order. */
  val benched: Seq[String] = entries.collect { case e if e.bench == Benched => e.name }

  /** The entries named in `names`, in declaration order; throws naming
    * every name that is not an entry. */
  def select(names: Iterable[String]): Seq[Entry] = {
    val unknown = names.filterNot(queries.contains)
    if (unknown.nonEmpty)
      throw new IllegalArgumentException(s"unknown entries: ${unknown.mkString(", ")}")
    val wanted = names.toSet
    entries.filter(e => wanted(e.name))
  }
}

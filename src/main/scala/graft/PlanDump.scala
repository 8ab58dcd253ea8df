package graft

import org.apache.spark.sql.SparkSession

/** Optimization-round tooling: dump `.explain("formatted")` for named
  * SparkEntry queries to files, so plan claims in OPTIMIZATION_r*.md are
  * checkable without running Spark.
  *
  * Usage: runMain graft.PlanDump <outDir> <tag> <query1,query2,...>
  * Writes <outDir>/<query>_<tag>.txt per query. Session config mirrors
  * Bench exactly (same master/shuffle partitions/AQE) so the dumped plan
  * is the plan the bench executes — note explain() on an AQE plan shows
  * the initial plan (isFinalPlan=false); exchange counts and join
  * strategies before AQE's runtime rewrites.
  */
object PlanDump {
  import org.apache.spark.sql.DataFrame
  import org.apache.spark.sql.functions._

  /** Iterative entries (louvain/leiden) run their loop EAGERLY at
    * plan-construction time, so their entry "plan" is just the memoized
    * final mapping scan. The meaningful artifact is the LOOP BODY's plan
    * on the real bench inputs — exposed here under synthetic names. */
  private val special: Map[String, (SparkSession, String) => DataFrame] = Map(
    // one level-1 parity round of the louvain/leiden ascent over the
    // sf co-purchase graph: the plan executed (maxLevels × maxRounds)
    // times per partition build
    "louvain_round" -> ((s, d) => {
      import graft.analytics.GraphAnalytics
      val li = TpchGraph.table(s, d, "lineitem")
        .select(col("l_orderkey").as("o"), col("l_partkey").as("p"))
      val pairs = GraphAnalytics.coPurchasePairs(li, "o", "p", minShared = 2,
        capDecided = Some(false))
      val sym = pairs.select(col("a"), col("b"))
        .unionByName(pairs.select(col("b").as("a"), col("a").as("b")))
      GraphAnalytics.louvainRoundPlanForDump(sym)
    }),
    // one BPE learn round's pair-count plan over the bench documents —
    // the plan executed `rounds` times per bpeMerges/fertility entry
    "bpe_pairs_round" -> ((s, d) =>
      pipeline.Tokenizer.pairCountPlanForDump(
        TpchGraph.table(s, d, "documents"), "doc_id", "text")))

  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val tag = args(1)
    val names = args(2).split(",").map(_.trim).filter(_.nonEmpty)
    // fail on an unknown name before any plan is built
    SparkEntry.select(names.filterNot(special.contains))
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession(s"local[$cpus]", cpus.toInt)
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    names.foreach { name =>
      val df = special.get(name) match {
        case Some(mk) => mk(spark, sfDir)
        case None =>
          val fn = SparkEntry.queries(name)
          Memo.stage(name, spark, sfDir)
          fn(spark, sfDir)
      }
      val txt = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      val p = java.nio.file.Paths.get(outDir, s"${name}_$tag.txt")
      java.nio.file.Files.write(p, txt.getBytes("UTF-8"))
      println(s"[plandump] wrote $p (${txt.length} chars)")
    }
    spark.stop()
  }
}

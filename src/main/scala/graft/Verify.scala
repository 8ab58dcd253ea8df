package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. Queries run as
  * concurrent jobs on the shared scheduler (they are independent; the graph
  * build is memoized and thread-safe), roughly halving wall time. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional third arg: comma-separated entry names for fast local
    // iteration on one operator (the full gate passes two args); an
    // unknown name fails the run
    val selected =
      if (args.length > 2) SparkEntry.select(args(2).split(",").map(_.trim).filter(_.nonEmpty))
      else SparkEntry.entries
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // config-sensitivity knobs (round 13): the r10 float bug was
    // parallelism-dependent and the dual 16/32-CPU gate guards that axis;
    // these two expose the remaining plan-shape axes of the same class —
    // the full oracle gate also runs with AQE off and with shuffle
    // parallelism far below the core count, and results must not move
    val aqe = sys.env.getOrElse("SPARK_GRAFT_AQE", "true")
    val shuffleParts = sys.env.getOrElse("SPARK_GRAFT_SHUFFLE_PARTITIONS", cpus)
    val spark = GraftSession(s"local[$cpus]", shuffleParts.toInt, aqe.toBoolean)
    new java.io.File(outDir).mkdirs()

    // materialize the shared graph once before fanning out
    try TpchGraph.build(spark, sfDir)
    catch { case e: Throwable =>
      System.err.println(s"[verify] graph build failed: ${e.getMessage}")
    }
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutorService(pool)
    // Coverage tripwire: round 8 lost 7 queries from the correctness record
    // with NO red signal — they errored, Verify printed one stderr line per
    // failure, and the driver's compare silently skipped the missing dumps.
    // Track per-query outcome (error or row count) and make any failure or
    // empty result unmissable in both the artifact and the process output.
    val outcomes = new java.util.concurrent.ConcurrentHashMap[String, Either[String, Long]]
    val futures = selected.map { case SparkEntry.Entry(name, build, _, _) =>
      scala.concurrent.Future {
        try {
          build(spark, sfDir).coalesce(1).write.mode("overwrite")
            .parquet(s"$outDir/$name")
          val rows = spark.read.parquet(s"$outDir/$name").count()
          outcomes.put(name, Right(rows))
        } catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
          outcomes.put(name, Left(Option(e.getMessage).getOrElse(e.getClass.getName)))
        }
      }
    }
    futures.foreach(f =>
      scala.concurrent.Await.ready(f, scala.concurrent.duration.Duration.Inf))
    pool.shutdown()
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = selected.map(e => s"${q(e.name)}: ${q(e.oracleSql)}").mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // coverage.json: the machine-readable tripwire. n_ok must equal
    // n_queries; a failed or empty entry names itself here AND triggers the
    // banner below, so a harness- or data-side change can never silently
    // shrink the checked set again.
    val failed = selected.map(_.name).flatMap(n => outcomes.get(n) match {
      case Left(err) => Some(n -> err)
      case _ => None
    })
    val empty = selected.map(_.name).filter(n => outcomes.get(n) match {
      case Right(0L) => true
      case null => true // never ran (should be impossible)
      case _ => false
    })
    val rowsJson = selected.map(_.name).flatMap(n => Option(outcomes.get(n)).collect {
      case Right(r) => s"${q(n)}: $r"
    }).mkString("{", ",", "}")
    val covJson =
      s"""{"n_queries": ${selected.size}, "n_ok": ${selected.size - failed.size - empty.size}, """ +
      s""""failed": ${failed.map { case (n, e) => s"${q(n)}: ${q(e)}" }.mkString("{", ",", "}")}, """ +
      s""""empty": ${empty.map(q).mkString("[", ",", "]")}, "rows": $rowsJson}"""
    Files.writeString(Paths.get(s"$outDir/coverage.json"), covJson)
    if (failed.nonEmpty || empty.nonEmpty) {
      System.err.println("=" * 72)
      System.err.println(s"[verify] COVERAGE FAILURE: ${failed.size} errored, " +
        s"${empty.size} empty of ${selected.size} queries")
      failed.foreach { case (n, e) => System.err.println(s"[verify]   FAILED $n: $e") }
      empty.foreach(n => System.err.println(s"[verify]   EMPTY  $n"))
      System.err.println("=" * 72)
    } else
      System.err.println(s"[verify] coverage OK: ${selected.size}/${selected.size} queries produced rows")
    spark.stop()
  }
}

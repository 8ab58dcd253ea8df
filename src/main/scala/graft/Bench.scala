package graft

/** Benchmark main: times [[SparkEntry.benched]] on SPARK_GRAFT_SF_DIR and
  * prints ONE JSON line {"metric":...,"queries":{...}}. Each query's plan is
  * forced end-to-end through the noop sink (full execution, no collect
  * bottleneck, no disk-write skew). Graph construction + caching is timed
  * separately as "graph_build" — queries then measure steady-state query
  * time, the shape of a long-lived engine. */
object Bench {
  def main(args: Array[String]): Unit = {
    // SPARK_GRAFT_BENCH_ONLY=q1,q2 restricts the measured set — an
    // iteration aid for profiling one operator without paying the full
    // sweep. It may name any entry, benched or not; an unknown name fails
    // the run before the session starts. Archived sweeps leave it unset,
    // so they measure every benched entry.
    val measured = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .fold(SparkEntry.benched)(v =>
        SparkEntry.select(v.split(",").map(_.trim).filter(_.nonEmpty)).map(_.name))
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession(s"local[$cpus]", cpus.toInt)

    def time(f: => Unit): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }

    // graph_build covers ALL one-time load cost: the graph tables AND the
    // relational base tables (repartition+persist on first touch) — so no
    // timed entry silently absorbs cache warmup into its own number
    val buildSec = time {
      import scala.concurrent.{Await, Future}
      import scala.concurrent.ExecutionContext.Implicits.global
      import scala.concurrent.duration.Duration
      val g = Future(TpchGraph.build(spark, sfDir))
      val tables = Seq("lineitem", "part", "orders", "customer", "nation",
        "region", "supplier", "events", "documents", "embeddings")
        .map(t => Future(TpchGraph.table(spark, sfDir, t)))
      (g +: tables).foreach(Await.result(_, Duration.Inf))
    }
    // Steady-state timing: each query runs `runs` times (default 2) and
    // reports the fastest run. The first execution also pays one-time
    // whole-stage-codegen compilation and JVM JIT warmup, and a single run
    // is exposed to transient host contention — taking the min measures the
    // engine, not the noisy neighbor. (graph_build stays single-shot: it IS
    // the one-time cost.)
    val runs = sys.env.get("SPARK_GRAFT_BENCH_RUNS")
      .flatMap(v => scala.util.Try(v.trim.toInt).toOption)
      .getOrElse(2).max(1)
    // A query that THROWS must never masquerade as a fast one: round 8
    // archived 0.002 s "timings" for queries whose analysis failed, and the
    // JSON read as a speedup. Failures record a -1 sentinel and the name
    // lands in the "failed" array of the output line.
    val stagedSec = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    val results = measured.map { name =>
      val fn = SparkEntry.queries(name)
      // One-time inputs an entry deliberately does NOT measure — streaming
      // source fixtures + the NB serving model, and the shared-input memos
      // its warm-family consumers read — are staged OUTSIDE the timed
      // region (round 13): the r12 single-shot stream numbers co-moved
      // with temp-IO contention because each included its fixture write,
      // and curate_funnel's time depended on run order leaving the label
      // memo warm. The staging cost is recorded next to the entry.
      val st = time(Memo.stage(name, spark, sfDir))
      if (Memo.prestaged(name)) stagedSec(name) = st
      // memo-cold entries share a per-session memo: without busting it,
      // the second run — and any run after another sharer — times a
      // memo lookup instead of the pipeline. Bust it before every timed
      // run so the reported number is the cold pipeline cost. With
      // fixtures staged, stream entries re-run like every other entry —
      // the bust no longer re-pays fixture churn, so the min strips
      // one-off contention stalls (ADVICE r12: a single-shot stall used
      // to land in the archived JSON unchallenged).
      def once(): Double = {
        Memo.bustBefore(name, spark, sfDir)
        val t0 = System.nanoTime()
        try {
          fn(spark, sfDir).write.mode("overwrite").format("noop").save()
          (System.nanoTime() - t0) / 1e9
        } catch { case e: Throwable =>
          System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
          -1.0
        }
      }
      // re-run queries under a 300 s cap. The cap used to be 60 s, which
      // meant precisely the queries that looked worst on a contended host
      // were the ones measured only once (round 7 recorded 216 s for a
      // query that re-measures at 5.7 s quiet) — at 300 s every realistic
      // entry gets a second run and the min strips one-off contention.
      // A failed first run is NOT retried: deterministic analysis errors
      // would just fail again, and the sentinel must survive to the JSON.
      val first = once()
      val best =
        if (first < 0) first
        else (first +: Seq.fill(runs - 1)(if (first < 300.0) once() else first))
          .filter(_ >= 0).min
      name -> best
    }
    val qs = (("graph_build" -> buildSec) +: results)
      .map { case (k, v) => "\"" + k + f"""":$v%.3f""" }.mkString("{", ",", "}")
    // total sums only SUCCESSFUL runs; failed entries carry -1 in `queries`
    // and are listed by name so a regression to "broken" can never read as
    // a speedup in the archived record
    val failed = results.collect { case (k, v) if v < 0 => k }
    val total = buildSec + results.map(_._2).filter(_ >= 0).sum
    // memo_cold names the entries timed with their shared per-session
    // memo cleared before every run (cold pipeline cost, not cache hits)
    val cold = measured.filter(Memo.coldEntries)
      .map("\"" + _ + "\"").mkString("[", ",", "]")
    // prestaged names the entries whose one-time inputs (stream fixtures,
    // serving models, shared-input memos) are staged UNTIMED — so the
    // archived record says exactly which numbers exclude a staged input —
    // and staged_sec what staging them cost (additive fields, like
    // memo_cold before them)
    val staged = stagedSec.keys.map("\"" + _ + "\"").mkString("[", ",", "]")
    val stagedJson = stagedSec
      .map { case (k, v) => "\"" + k + f"""":$v%.3f""" }.mkString("{", ",", "}")
    val failedJson = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    val json =
      f"""{"metric":"total","value":$total%.3f,"unit":"sec","queries":$qs,"memo_cold":$cold,"prestaged":$staged,"staged_sec":$stagedJson,"failed":$failedJson,"sf":"$sfDir"}"""
    println(json)
    // also persist the record to a file: the driver captures the JSON from
    // the process tail, and a truncated tail (it happened in round 7 —
    // BENCH_r07.json `parsed: null`) would otherwise erase the round's
    // machine-readable numbers
    try {
      val out = java.nio.file.Paths.get("target", "bench.json")
      java.nio.file.Files.createDirectories(out.getParent)
      java.nio.file.Files.write(out, (json + "\n").getBytes("UTF-8"))
    } catch { case e: Throwable =>
      System.err.println(s"[bench] could not write target/bench.json: ${e.getMessage}")
    }
    spark.stop()
  }
}

package graftbench

import scala.collection.mutable
import org.apache.spark.sql.SparkSession
import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

/** One benchmark run in one process: set up (SparkSession start, input
  * generation, base-table load, graph build, warm-up ops), run the workload's ops in a
  * closed loop with one client thread for `seconds` and to the end of the
  * current cycle of ops, then check every op against the twin. Writes the
  * raw samples, spans and Spark counters as JSON to `--out`; run.py turns
  * them into metrics. With `--trace 1` every
  * span is recorded and the Spark listener is attached. */
object Main {
  def digest(w: Workload, seed: Long): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    w.describe(seed).foreach { s => md.update(s.getBytes("UTF-8")); md.update('\n'.toByte) }
    md.digest().map("%02x".format(_)).mkString
  }

  def session(cores: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graftbench")
      .config("spark.sql.shuffle.partitions", cores.toLong)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val name = opt("workload")
    val seed = opt("seed").toLong
    val w = Workload(name)
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    val cores = opt("cores").toInt
    val work = new java.io.File(opt("work")).getAbsolutePath

    // set-up time counts from process start, JVM start-up included
    val spark = session(cores, work)
    Trace.bind(spark.sparkContext)
    Trace.set(trace)
    w.setup(spark, seed, s"$work/in")
    Trace.set(false)
    w.warmUp()
    Trace.set(trace)
    val setupS = (System.currentTimeMillis() -
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3

    val samples = mutable.ArrayBuffer.empty[Map[String, Any]]
    val checks = mutable.ArrayBuffer.empty[(Int, () => Boolean)]
    val start = System.nanoTime()
    var i = 0
    while ((System.nanoTime() - start) / 1e9 < seconds || i % w.cycle != 0) {
      Trace.op = i
      val t0 = System.nanoTime()
      val (kind, error) =
        try {
          val o = Trace.span("op")(w.op(i))
          checks += i -> o.check
          (o.kind, "")
        } catch { case e: Exception => ("error", s"${e.getClass.getSimpleName}: ${e.getMessage}") }
      samples += Map("op" -> i, "kind" -> kind, "latency_s" -> (System.nanoTime() - t0) / 1e9,
        "error" -> error)
      i += 1
    }
    val loopS = (System.nanoTime() - start) / 1e9
    val dg = digest(w, seed)
    println(s"op-sequence digest: $dg")
    if (trace) { Trace.op = -2; w.afterLoop(); Trace.drain() }

    // correctness, after the clock stops: every op against its twin
    val failedChecks = checks.filter { case (op, check) =>
      val ok = try check() catch {
        case e: Exception => System.err.println(s"graftbench: check of op $op threw $e"); false
      }
      if (!ok) System.err.println(s"graftbench: op $op result mismatch")
      !ok
    }.map(_._1).toSet
    val results = samples.map { s =>
      s + ("ok" -> (s("error") == "" && !failedChecks(s("op").asInstanceOf[Int])))
    }
    results.filter(_("error") != "").foreach(s => System.err.println(s"graftbench: op ${s("op")} failed: ${s("error")}"))

    val counters = Trace.listener.bySpan.map { case (span, c) =>
      span.toString -> Map("jobs" -> c.jobs, "stages" -> c.stages, "tasks" -> c.tasks,
        "tasks_failed" -> c.tasksFailed, "executor_run_s" -> c.runMs / 1e3,
        "executor_cpu_s" -> c.cpuNs / 1e9, "scheduler_delay_s" -> c.schedDelayMs / 1e3,
        "shuffle_read_bytes" -> c.shuffleRead, "shuffle_write_bytes" -> c.shuffleWrite,
        "spill_bytes" -> c.spill)
    }.toMap
    val out = Map(
      "workload" -> name, "seed" -> seed, "cores" -> cores, "cycle" -> w.cycle, "digest" -> dg,
      "setup_s" -> setupS, "loop_s" -> loopS, "samples" -> results.toSeq,
      "spans" -> Trace.spans.map(s => Map("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
        "op" -> s.op, "start_s" -> s.startNs / 1e9, "end_s" -> s.endNs / 1e9, "attrs" -> s.attrs)).toSeq,
      "counters" -> counters)
    val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
    mapper.writeValue(new java.io.File(opt("out")), out)
    if (trace) Trace.set(false)
    spark.stop()
  }
}

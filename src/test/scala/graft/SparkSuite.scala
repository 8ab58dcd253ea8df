package graft

import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.GraftSchedulerProbe
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageSubmitted}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** One shared local session for the whole test JVM. */
object TestSpark {
  lazy val spark: SparkSession = GraftSession("local[4]", 4, appName = "graft-test")
}

trait SparkSuite extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark

  /** Runs `body` and returns its result with the number of Spark jobs it
    * started. AQE and broadcast joins are off meanwhile: under AQE every
    * shuffle stage is its own job, and broadcast builds submit theirs from
    * a side thread, so with both off one action is one job and the count
    * measures actions. The listener bus is drained before and after, so
    * no earlier job leaks in and no job of `body` is missed. */
  def countJobs[A](body: => A): (A, Int) = {
    val (out, jobs, _) = countJobsAndStages(body)
    (out, jobs)
  }

  /** [[countJobs]], also returning the number of stages its jobs ran:
    * a shuffle inside one action adds a stage, not a job. */
  def countJobsAndStages[A](body: => A): (A, Int, Int) = {
    val jobs = new AtomicInteger
    val stages = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(jobStart: SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
      override def onStageSubmitted(stage: SparkListenerStageSubmitted): Unit = {
        stages.incrementAndGet(); ()
      }
    }
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    val prevBc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    GraftSchedulerProbe.drainListenerBus(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    try {
      val out = body
      GraftSchedulerProbe.drainListenerBus(spark.sparkContext)
      (out, jobs.get(), stages.get())
    } finally {
      spark.sparkContext.removeSparkListener(listener)
      spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBc)
    }
  }

  /** The node count of `df`'s analyzed plan: the one measure every
    * plan-size assertion uses. */
  def planNodes(df: DataFrame): Int = df.queryExecution.analyzed.collect { case n => n }.size
}

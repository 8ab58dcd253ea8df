package graft

/** Round-16 temporary probe: decompose graph_build's one-shot cost into
  * (a) base-table load+persist, (b) graph construction, and (c) JVM/codegen
  * warmup — by re-running the identical build against an aliased dir path
  * (fresh memo key, same files) inside the warmed session. */
object BuildProbe {
  def main(args: Array[String]): Unit = {
    val spark = graft.GraftSession("local[32]", 32)
    def time(name: String)(f: => Unit): Unit = {
      val t0 = System.nanoTime(); f
      println(f"MARKER $name ${(System.nanoTime() - t0) / 1e9}%.2f s")
    }
    val cold = "/root/testdata/sf0.1"
    // alias path to the SAME files: a fresh memo key inside the warmed JVM
    val warm = {
      val d = java.nio.file.Paths.get("target", "buildprobe")
      java.nio.file.Files.createDirectories(d)
      val link = d.resolve("sf0.1b")
      java.nio.file.Files.deleteIfExists(link)
      java.nio.file.Files.createSymbolicLink(link,
        java.nio.file.Paths.get(cold))
      link.toString
    }
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration.Duration
    val tables = Seq("lineitem", "part", "orders", "customer", "nation",
      "region", "supplier", "events", "documents", "embeddings")
    time("cold_tables") {
      tables.map(t => Future(TpchGraph.table(spark, cold, t)))
        .foreach(Await.result(_, Duration.Inf))
    }
    time("cold_graph") { TpchGraph.build(spark, cold) }
    time("warm_tables") {
      tables.map(t => Future(TpchGraph.table(spark, warm, t)))
        .foreach(Await.result(_, Duration.Inf))
    }
    time("warm_graph") { TpchGraph.build(spark, warm) }
    spark.stop()
  }
}

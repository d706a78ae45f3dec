package graft.tools

/** Plan auditor: prints `.explain("formatted")` for the named SparkEntry
  * queries (all when none given) — used to eyeball pushdown, broadcast
  * choices, and codegen spans per round. */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    // SPARK_GRAFT_CPUS lets plan dumps reproduce the BENCH session shape
    // (local[32], shuffle.partitions=32 at sf0.1) instead of the test shape
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = graft.Session.local(cpus.toInt)
    spark.sparkContext.setLogLevel("ERROR")
    val names = if (args.nonEmpty) args.toSeq else graft.SparkEntry.queries.keys.toSeq.sorted
    names.foreach { n =>
      println(s"\n═══════════ $n ═══════════")
      try graft.SparkEntry.queries(n)(spark, sfDir).explain("formatted")
      catch { case e: Throwable => println(s"EXPLAIN FAILED: ${e.getMessage}") }
    }
    spark.stop()
  }
}

package graft.tools

import org.apache.spark.sql.DataFrame

/** Shuffle-Exchange census over every driver-contract query — regenerates
  * QueriesSmokeSpec's pinned expectedExchanges table (which calls
  * [[CountX.shuffleExchanges]], so the counter can never drift from the
  * regenerator). */
object CountX {

  /** Number of shuffle Exchange nodes in the formatted physical plan
    * (BroadcastExchange is a different node name and is NOT counted). */
  def shuffleExchanges(df: DataFrame): Int = {
    val out = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(out))(df.explain("formatted"))
    "\\(\\d+\\) Exchange\\b".r.findAllIn(out.toString).size
  }

  def main(args: Array[String]): Unit = {
    val spark = graft.Session.local(8)
    spark.sparkContext.setLogLevel("ERROR")
    val dir = args.headOption.getOrElse("/root/testdata/sf0.001")
    graft.SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      try println(s"XCOUNT $name ${shuffleExchanges(fn(spark, dir))}")
      catch { case e: Throwable => println(s"XCOUNT $name ERR ${e.getClass.getSimpleName}") }
    }
    spark.stop()
  }
}

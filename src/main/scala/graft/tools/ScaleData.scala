package graft.tools

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Scale-up generator for the SCALING self-measurement (BASELINE.md):
  * replicates the driver's sf0.1 testdata `factor`× into a new directory,
  * deterministically perturbing each replica so the scaled corpus keeps the
  * ORIGINAL's per-document structure without manufacturing cross-replica
  * duplicates (which would quadratically inflate the dedup families and
  * measure data pathology, not operator scaling):
  *
  *  - documents: ids shift by a 1M stride per replica; replica i > 0 maps
  *    the text through a rotate-i substitution cipher over [a-z] and [A-Z]
  *    (`translate`) — lengths, token boundaries, shingle counts, and the
  *    Zipf shape are all preserved exactly, while replicas share zero
  *    vocabulary (each replica reads as its own "language", so the global
  *    vocabulary grows with the corpus, the multilingual-crawl shape);
  *  - embeddings: ids shift; replica i rotates the 64-dim vector left by i
  *    positions — norms and pairwise geometry within a replica are
  *    preserved, across replicas the vectors decorrelate;
  *  - TPC-H tables: all primary/foreign keys shift by the SAME stride so
  *    every join remains key-consistent per replica; payload columns are
  *    unchanged. region/nation copy verbatim (dimension tables).
  *
  * Usage: runMain graft.tools.ScaleData <srcDir> <dstDir> <factor>
  */
object ScaleData {

  private val Stride = 1000000L

  private def replicate(
      src: DataFrame, factor: Int)(f: (DataFrame, Int) => DataFrame): DataFrame =
    (0 until factor).map(i => f(src, i)).reduce(_ unionByName _)

  /** Rotate-i substitution cipher over ASCII letters (identity at i=0). */
  private def cipher(c: Column, i: Int): Column = {
    val lower = "abcdefghijklmnopqrstuvwxyz"
    val upper = lower.toUpperCase
    val r = i % 26
    val to = lower.drop(r) + lower.take(r) + upper.drop(r) + upper.take(r)
    if (r == 0) c else translate(c, lower + upper, to)
  }

  def main(args: Array[String]): Unit = {
    val Array(srcDir, dstDir, factorS) = args
    val factor = factorS.toInt
    require(factor >= 1, "factor must be >= 1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.Session.local(cpus.toInt)
    def rt(name: String) = spark.read.parquet(s"$srcDir/$name.parquet")
    def wr(df: DataFrame, name: String): Unit =
      df.write.mode("overwrite").parquet(s"$dstDir/$name.parquet")
    // replica shifts collide silently if any source key reaches the
    // stride — the 'no manufactured cross-replica duplicates' invariant
    // the scaling measurement depends on, so verify it loudly
    def checkStride(df: DataFrame, keys: String*): Unit = keys.foreach { k =>
      val mx = df.agg(max(col(k))).head().getLong(0)
      require(mx < Stride,
        s"ScaleData: max($k) = $mx >= stride $Stride — raise Stride")
    }
    checkStride(rt("documents"), "doc_id")
    checkStride(rt("embeddings"), "vec_id")
    checkStride(rt("events"), "event_id", "user_id")
    checkStride(rt("lineitem"), "l_orderkey", "l_partkey", "l_suppkey")
    checkStride(rt("orders"), "o_orderkey", "o_custkey")
    checkStride(rt("customer"), "c_custkey")
    checkStride(rt("part"), "p_partkey")
    checkStride(rt("supplier"), "s_suppkey")

    wr(replicate(rt("documents"), factor) { (d, i) =>
      d.select(
        (col("doc_id") + lit(i * Stride)).as("doc_id"),
        cipher(col("text"), i).as("text"),
        col("lang"), col("source"), col("n_chars"))
    }, "documents")

    wr(replicate(rt("embeddings"), factor) { (d, i) =>
      val dim = 64
      val rot = i % dim
      val emb =
        if (rot == 0) col("embedding")
        else concat(
          slice(col("embedding"), rot + 1, dim - rot),
          slice(col("embedding"), 1, rot))
      d.select((col("vec_id") + lit(i * Stride)).as("vec_id"),
        emb.as("embedding"), col("label"))
    }, "embeddings")

    wr(replicate(rt("events"), factor) { (d, i) =>
      d.select((col("event_id") + lit(i * Stride)).as("event_id"),
        col("ts"), (col("user_id") + lit(i * Stride)).as("user_id"),
        col("event_type"), col("value"), col("props"))
    }, "events")

    wr(replicate(rt("lineitem"), factor) { (d, i) =>
      d.withColumn("l_orderkey", col("l_orderkey") + lit(i * Stride))
        .withColumn("l_partkey", col("l_partkey") + lit(i * Stride))
        .withColumn("l_suppkey", col("l_suppkey") + lit(i * Stride))
    }, "lineitem")

    wr(replicate(rt("orders"), factor) { (d, i) =>
      d.withColumn("o_orderkey", col("o_orderkey") + lit(i * Stride))
        .withColumn("o_custkey", col("o_custkey") + lit(i * Stride))
    }, "orders")

    wr(replicate(rt("customer"), factor) { (d, i) =>
      d.withColumn("c_custkey", col("c_custkey") + lit(i * Stride))
    }, "customer")

    wr(replicate(rt("part"), factor) { (d, i) =>
      d.withColumn("p_partkey", col("p_partkey") + lit(i * Stride))
    }, "part")

    wr(replicate(rt("supplier"), factor) { (d, i) =>
      d.withColumn("s_suppkey", col("s_suppkey") + lit(i * Stride))
    }, "supplier")

    wr(rt("region"), "region")
    wr(rt("nation"), "nation")

    println(s"scaled $srcDir -> $dstDir x$factor")
    spark.stop()
  }
}

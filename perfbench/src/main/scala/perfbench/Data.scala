package perfbench

import java.time.LocalDateTime
import java.util.SplittableRandom

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** The benchmark's input tables, generated in the JVM from a fixed data
  * seed so every run of one scale sees byte-identical tables (the stored
  * expected outputs depend on it). The workload seed never changes the
  * tables; it orders the ops and carves the ingest batches.
  *
  * The schemas are the ones the program's queries read: a TPC-H-like
  * `lineitem`/`orders` pair for the transformer queries and a
  * `documents` corpus for the curation, kernel and ingest work. Every
  * table is written as ONE parquet file, the layout the program's scan
  * floor is designed around. */
object Data {

  /** Table sizes per scale. `test` is the benchmark's own smoke scale. */
  final case class Scale(orders: Int, partKeys: Int, docs: Int)
  val scales: Map[String, Scale] = Map(
    "bench" -> Scale(orders = 2500, partKeys = 2000, docs = 600),
    "test" -> Scale(orders = 300, partKeys = 400, docs = 200))

  private val DataSeed = 42L

  private val Words = Vector(
    "a", "the", "batch", "part", "spark", "line", "column", "order", "small",
    "sort", "fast", "value", "scan", "hash", "slow", "group", "agg", "filter",
    "query", "big", "key", "window", "row", "table", "stream", "merge", "data",
    "customer", "join", "vector", "index", "shard", "crawl", "token", "model",
    "frame", "plan", "stage", "task", "cache", "page", "link", "host", "score",
    "text", "word", "graph", "node")
  private val Langs = Vector("en", "en", "en", "de", "fr", "es", "zh")
  private val Flags = Vector("A", "N", "R")
  private val Priorities =
    Vector("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")

  private def day(r: SplittableRandom, fromYear: Int, years: Int) =
    LocalDateTime.of(fromYear, 1, 1, 0, 0).plusDays(r.nextInt(years * 365).toLong)

  private def cents(x: Double): Double = math.round(x * 100) / 100.0

  /** Writes the workload's tables under `dir` and returns the documents
    * rows (doc_id, text, source), which the ingest workload carves into
    * batches. Every table's rows are drawn, written or not, so a table's
    * contents do not depend on which others the workload reads. */
  def generate(spark: SparkSession, dir: String, sc: Scale, workload: String): Seq[Row] = {
    val r = new SplittableRandom(DataSeed)
    def write(name: String, schema: StructType, rows: Seq[Row]): Unit =
      if (tables(workload).contains(name))
        spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
          .coalesce(1).write.parquet(s"$dir/$name.parquet")

    val orders = (0 until sc.orders).map { k =>
      Row(k.toLong, r.nextInt(1000).toLong, Vector("F", "O", "P")(r.nextInt(3)),
        cents(1000 + r.nextDouble() * 400000), day(r, 1992, 7),
        Priorities(r.nextInt(Priorities.size)))
    }
    write("orders", StructType(Seq(
      StructField("o_orderkey", LongType), StructField("o_custkey", LongType),
      StructField("o_orderstatus", StringType),
      StructField("o_totalprice", DoubleType),
      StructField("o_orderdate", TimestampNTZType),
      StructField("o_orderpriority", StringType))), orders)

    val lineitem = orders.flatMap { o =>
      val ordered = o.getAs[LocalDateTime](4)
      (1 to 1 + r.nextInt(7)).map { ln =>
        val qty = (1 + r.nextInt(50)).toDouble
        Row(o.getLong(0), r.nextInt(sc.partKeys).toLong, r.nextInt(100).toLong, ln,
          qty, cents(qty * (900 + r.nextDouble() * 1100)),
          r.nextInt(11) / 100.0, r.nextInt(9) / 100.0,
          Flags(r.nextInt(3)), if (r.nextBoolean()) "F" else "O",
          ordered.plusDays(1L + r.nextInt(120)))
      }
    }
    write("lineitem", StructType(Seq(
      StructField("l_orderkey", LongType), StructField("l_partkey", LongType),
      StructField("l_suppkey", LongType), StructField("l_linenumber", IntegerType),
      StructField("l_quantity", DoubleType),
      StructField("l_extendedprice", DoubleType),
      StructField("l_discount", DoubleType), StructField("l_tax", DoubleType),
      StructField("l_returnflag", StringType),
      StructField("l_linestatus", StringType),
      StructField("l_shipdate", TimestampNTZType))), lineitem)

    // A tenth of the documents are near-copies (one word replaced) of an
    // earlier long document and a twentieth are exact copies, so every
    // dedup path has real clusters to find.
    val texts = scala.collection.mutable.ArrayBuffer.empty[Vector[String]]
    val docs = (0 until sc.docs).map { k =>
      val longOnes = texts.indices.filter(texts(_).size >= 30)
      val roll = r.nextInt(20)
      val words =
        if (roll < 2 && longOnes.nonEmpty) {
          val src = texts(longOnes(r.nextInt(longOnes.size)))
          src.updated(src.size / 2, Words(r.nextInt(Words.size)))
        } else if (roll == 2 && longOnes.nonEmpty)
          texts(longOnes(r.nextInt(longOnes.size)))
        else Vector.fill(8 + r.nextInt(80))(Words(r.nextInt(Words.size)))
      texts += words
      val text = words.mkString(" ")
      Row(k.toLong, text, Langs(r.nextInt(Langs.size)), s"src${k % 20}",
        text.length.toLong)
    }
    write("documents", StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType),
      StructField("n_chars", LongType))), docs)
    docs
  }

  /** The tables a workload's ops read. */
  def tables(workload: String): Seq[String] = workload match {
    case "curation" => Seq("documents")
    case "kernels" => Seq("orders", "lineitem", "documents")
  }
}

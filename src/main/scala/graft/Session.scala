package graft

import org.apache.spark.sql.SparkSession

/** The one local-session recipe shared by the bench, the verify dump, the
  * tools and the test suites. */
object Session {

  /** A `local[cores]` session (or the JVM's existing one) with:
    *  - `spark.sql.shuffle.partitions = cores`;
    *  - session time zone UTC;
    *  - `spark.sql.legacy.parquet.nanosAsLong` — older testdata drops stored
    *    events as TIMESTAMP(NANOS), which then load as epoch-nanos longs
    *    that `SparkEntry.rtEvents` converts explicitly (a no-op for
    *    TIMESTAMP(MICROS) drops);
    *  - [[graft.functions.GraftExtensions]], which every graft operator
    *    requires;
    *  - the Spark UI off and WARN-level logs. */
  def local(cores: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

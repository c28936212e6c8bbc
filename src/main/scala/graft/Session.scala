package graft

import org.apache.spark.sql.SparkSession

/** The one place that builds a SparkSession: every main and the test
  * suite go through [[Session.local]], so a number taken by one
  * tool is taken under the same conditions as every other.
  */
object Session {

  /** A `local[cores]` session with one shuffle partition per core, UTC
    * session time, nanosecond parquet timestamps read as longs (see
    * `Tables.load`), no UI, and log level WARN.
    */
  def local(cores: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      // Shuffle files are reclaimed only when their ShuffleDependency is
      // GC'd (ContextCleaner hooks weak references): a large heap means
      // rare full GCs, so a 163-query suite in one JVM otherwise
      // accumulates every query's dead shuffle blocks on disk until the
      // disk fills — the r8 sf10 bench died exactly this way (67 GB of
      // dead blocks, then a cascade of "No space left on device"). The
      // periodic driver GC is the backstop; Bench's per-query
      // System.gc() is the primary reclamation point.
      .config("spark.cleaner.periodicGC.interval", "1min")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** The core count the mains run with: `SPARK_GRAFT_CPUS`,
    * default 4. */
  def envCores: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
}

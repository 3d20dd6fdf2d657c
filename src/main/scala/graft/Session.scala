package graft

import org.apache.spark.sql.SparkSession

/** The one session shape every entry point (Bench, Verify, QTime, Probe,
  * Explain, Smoke) and the test suites run on: `local[cores]` with as
  * many shuffle partitions as cores, no UI, UTC session time, nanosecond
  * parquet timestamps read as long (events.parquet, converted to micros
  * in graft.Tables.events), and log level ERROR: stray WARN lines once
  * pushed Bench's one-line JSON result out of a short captured output tail.
  *
  * Queries need nothing installed on the session: native expressions are
  * built as Columns (graft.functions), and SQL names for them exist only
  * in sessions built with `builder(n).withExtensions(new GraftExtensions)`.
  */
object Session {
  def builder(cores: Int): SparkSession.Builder = SparkSession.builder()
    .master(s"local[$cores]")
    .config("spark.sql.shuffle.partitions", cores.toLong)
    .config("spark.ui.enabled", false)
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.legacy.parquet.nanosAsLong", true)
    .config("spark.log.level", "ERROR")

  def apply(cores: Int): SparkSession = builder(cores).getOrCreate()

  /** `$SPARK_GRAFT_CPUS`, or `default` when unset. */
  def envCores(default: Int): Int =
    sys.env.get("SPARK_GRAFT_CPUS").fold(default)(_.trim.toInt)
}

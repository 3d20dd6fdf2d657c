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

  /** Drops and counts, at the root logger, the benign DAGScheduler race
    * "Failed to update accumulator … (Unknown class)" (a task result late
    * after its query's release): its traces buried real failures.
    */
  def dropAccumulatorRaces(): java.util.concurrent.atomic.AtomicLong = {
    import org.apache.logging.log4j.LogManager
    import org.apache.logging.log4j.core.{Filter, LogEvent, LoggerContext}
    import org.apache.logging.log4j.core.filter.AbstractFilter
    val n = new java.util.concurrent.atomic.AtomicLong
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    ctx.getConfiguration.getRootLogger.addFilter(new AbstractFilter {
      override def filter(ev: LogEvent): Filter.Result = {
        val msg = ev.getMessage.getFormattedMessage
        if (msg.contains("Failed to update accumulator") && msg.contains("(Unknown class)")) {
          n.incrementAndGet(); Filter.Result.DENY
        } else Filter.Result.NEUTRAL
      }
    })
    ctx.updateLoggers()
    n
  }
}

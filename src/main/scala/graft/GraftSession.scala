package graft

import org.apache.spark.sql.SparkSession

/** The one local-session recipe: every graft main, probe and spec builds
  * its SparkSession here, so they all run the same engine configuration.
  *
  *   - [[GraftExtensions]] (native functions, planner strategies, parser);
  *   - `spark.sql.session.timeZone=UTC`: Tables.normalizeEpochNanos renders
  *     nanos-long/NTZ encodings into TimestampType assuming a UTC session,
  *     so an entrypoint reading `events.ts` without the pin shifts instants
  *     on a non-UTC host;
  *   - one shuffle partition per local core, UI off, log level WARN.
  */
object GraftSession {
  /** A local[cpus] session; `cpus` defaults to `SPARK_GRAFT_CPUS`, else 4. */
  def local(app: String,
      cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").fold(4)(_.trim.toInt)): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(app)
      .withExtensions(new GraftExtensions)
      .config("spark.sql.shuffle.partitions", cpus.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}

package graft

import org.apache.spark.sql.SparkSession

/** The one local session recipe of graft's mains and of the test suite.
  *
  * `local[cores]` with as many shuffle partitions, Spark's local dir on
  * tmpfs ([[ShmLocalDir]]), UTC session time, graft's SQL extensions
  * (planner rules and the native functions), `TIMESTAMP_MICROS` parquet
  * writes (a timestamp `statsCols` commit needs micros footer statistics)
  * and no UI. `events.parquet` carries TIMESTAMP(NANOS), which Spark has no
  * native type for; it is read as long (ns since epoch) and converted
  * explicitly. Callers choose the core count and set their own log level.
  */
object LocalSession {
  def build(cores: Int): SparkSession =
    SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.local.dir", ShmLocalDir.path())
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
}

package graft.util

import org.apache.spark.sql.SparkSession

/** The local session the mains and the spec suite share: `local[cpus]`,
  * one shuffle partition per core, UTC session time zone, no UI, WARN
  * logging. ScalingBench builds its own: its N-vs-4N protocol tunes the
  * partition count, split size and local dir.
  */
object LocalSpark {
  def session(cpus: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

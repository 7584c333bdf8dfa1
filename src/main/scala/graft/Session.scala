package graft

import org.apache.spark.sql.SparkSession

/** The session every main runs in. */
object Session {

  /** Local mode with `cores` task slots and as many shuffle partitions,
    * AQE on, UTC session time zone, no UI. The driver heap is set when
    * the JVM starts (`-Xmx`, see build.sbt), never here: this runs
    * inside an already-started JVM.
    */
  def local(cores: Int): SparkSession = SparkSession.builder()
    .master(s"local[$cores]")
    .config("spark.sql.shuffle.partitions", cores)
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
}

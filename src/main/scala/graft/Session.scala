package graft

import org.apache.spark.sql.SparkSession

/** The ONE session the command-line tools (Bench, Verify, Plans,
  * Profile) run on: `local[n]` with n = `SPARK_GRAFT_CPUS` (else the
  * tool's own default), one shuffle partition per core, UTC session
  * time zone, no UI. Returns the builder so a tool can add its own
  * settings before `getOrCreate()`. */
object Session {
  def builder(defaultCpus: Int): SparkSession.Builder = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", defaultCpus.toString)
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
  }
}

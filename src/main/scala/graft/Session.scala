package graft

import org.apache.spark.sql.SparkSession

/** The one local session every entry point runs on (Bench, Verify, Debug
  * and the specs): `local[cpus]` with shuffle partitions = cpus, UTC,
  * nanosecond parquet timestamps read as longs, CORRECTED datetime rebase
  * on write, no UI, WARN logging, and the graft functions registered.
  * `configure` layers caller-specific settings onto the builder before the
  * session is created.
  */
object Session {
  def local(cpus: String,
      configure: SparkSession.Builder => SparkSession.Builder = identity): SparkSession = {
    val spark = configure(SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.datetimeRebaseModeInWrite", "CORRECTED")
      .config("spark.ui.enabled", "false"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.functions.GraftFunctions.ensureRegistered(spark)
    spark
  }
}

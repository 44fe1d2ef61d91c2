package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkStrategy

/** Post-hoc installs onto a live session. Sessions built with
  * `spark.sql.extensions=graft.GraftExtensions` get the library's planner
  * strategies injected at build time instead; every other session gets each
  * one the first time a library call builds its node.
  */
object Install {

  /** Idempotently append `strategy` to the session's extra strategies. */
  def strategy(spark: SparkSession, strategy: SparkStrategy): Unit = {
    val existing = spark.experimental.extraStrategies
    if (!existing.contains(strategy)) {
      spark.experimental.extraStrategies = existing :+ strategy
    }
  }
}

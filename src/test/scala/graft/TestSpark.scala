package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for all suites (session startup dominates
  * test wall-clock otherwise): the factory session at 4 cores. */
object TestSpark {
  lazy val spark: SparkSession = GraftSession(cpus = 4)
}

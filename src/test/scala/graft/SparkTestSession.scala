package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for all suites (the reference's
  * LocalSparkContext trait, LocalSparkContext.scala:15-86, minus the
  * cluster matrix — partitioning behavior is exercised by explicit
  * repartition calls instead). */
object SparkTestSession {
  lazy val spark: SparkSession = GraftSession("local[4]", 4, logLevel = "ERROR")
}

package graft

import org.apache.spark.sql.SparkSession

/** One shared local SparkSession for the whole test JVM. */
object SparkTestSession {
  lazy val spark: SparkSession = GraftSession.builder("local[4]", 4).getOrCreate()
}

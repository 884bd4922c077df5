package graft

import org.apache.spark.sql.SparkSession

import graft.tools.LocalSession

/** One shared local SparkSession for the whole forked test JVM. */
object SparkTestBase {
  lazy val spark: SparkSession = LocalSession.builder(4).getOrCreate()
  spark.sparkContext.setLogLevel("WARN")
}

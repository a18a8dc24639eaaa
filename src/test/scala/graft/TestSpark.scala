package graft

import org.apache.spark.sql.SparkSession

/** One shared local SparkSession for the whole test JVM. */
object TestSpark {
  lazy val session: SparkSession = Session.local(4)
}

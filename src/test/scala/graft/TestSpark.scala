package graft

import org.apache.spark.sql.SparkSession

object TestSpark {
  lazy val spark: SparkSession = GraftSession.local(cores = 4)

  /** Spark jobs `body` and the threads it starts ran ([[Profile]]). */
  def jobsDuring(body: => Unit): Int = Profile.run(spark)(body).jobs.size
}

package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

object TestSpark {
  lazy val spark: SparkSession = GraftSession.local(cores = 4)

  /** Spark jobs started while `body` runs, counted by a listener: a
    * sentinel job in its own group marks the end, since the listener bus
    * delivers events in order. */
  def jobsDuring(body: => Unit): Int = {
    val sc = spark.sparkContext
    val groups = new ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        groups.add(String.valueOf(e.properties.getProperty("spark.jobGroup.id")))
    }
    val group = s"probe-${java.util.UUID.randomUUID()}"
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "measured")
      try body finally sc.clearJobGroup()
      sc.setJobGroup(s"$group-end", "sentinel")
      try spark.range(1).count() finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (!groups.contains(s"$group-end") && System.nanoTime() < deadline)
        Thread.sleep(10)
      assert(groups.contains(s"$group-end"), "listener never saw the sentinel job")
      groups.asScala.count(_ == group)
    } finally sc.removeSparkListener(listener)
  }
}

package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.PlanBridge
import org.apache.spark.sql.internal.SQLConf
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.{Bpe, Dedup, Graph}
import graft.streaming.EventStreams

/** What a probe saw while it ran: the caller's session conf, and the conf
  * of the query that evaluated it. */
final case class ConfSeen(callerAqe: String, callerShuffle: String,
                          jobAqe: String, jobShuffle: String)

/** The probe's state lives in a static object so the UDF's closure holds
  * no session: local mode runs tasks in the driver's JVM, so the probe
  * reads the caller's live conf at the moment a task evaluates it. */
object ConfProbe {
  @volatile var caller: SparkSession = _
  val seen = new ConcurrentLinkedQueue[ConfSeen]()

  private def record(): Boolean = {
    // in a task, the conf its job was submitted with; on the driver (the
    // optimizer folds a filter over a local relation), the planning one
    val job = SQLConf.get
    def jobConf(k: String) = job.getConfString(k, "")
    seen.add(ConfSeen(
      caller.conf.get(SQLConf.ADAPTIVE_EXECUTION_ENABLED.key),
      caller.conf.get(SQLConf.SHUFFLE_PARTITIONS.key),
      jobConf(SQLConf.ADAPTIVE_EXECUTION_ENABLED.key),
      jobConf(SQLConf.SHUFFLE_PARTITIONS.key)))
    true
  }

  /** A row filter that keeps every row and records a [[ConfSeen]]. */
  def filter: org.apache.spark.sql.Column =
    udf(() => record()).asNondeterministic()()
}

/** Iterative operators and `runToBatch` run in a child of the caller's
  * session: the caller's conf stays as it was for the whole call, so
  * another thread's query on that session plans with it meanwhile. */
class ChildSessionSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def aqe = spark.conf.get(SQLConf.ADAPTIVE_EXECUTION_ENABLED.key)
  private def shuffle = spark.conf.get(SQLConf.SHUFFLE_PARTITIONS.key)

  /** Runs `op` over the probe and returns what the probe saw during it. */
  private def probed(op: => DataFrame): Seq[ConfSeen] = {
    ConfProbe.caller = spark
    ConfProbe.seen.clear()
    val before = (aqe, shuffle)
    val out = op
    out.collect()
    out.unpersist(blocking = true)
    assert((aqe, shuffle) == before, "the caller's conf changed across the call")
    val seen = ConfProbe.seen.asScala.toSeq
    assert(seen.nonEmpty, "the probe never ran")
    seen
  }

  private def edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L), (5L, 6L))
    .toDF("src", "dst")

  private def assertLoopIsolated(seen: Seq[ConfSeen]): Unit = {
    assert(seen.forall(_.callerAqe == "true"),
      s"the caller's AQE was switched off while the loop ran: ${seen.distinct}")
    assert(seen.forall(_.callerShuffle == shuffle), seen.distinct.toString)
    // the loop itself still runs with AQE off
    assert(seen.forall(_.jobAqe == "false"), seen.distinct.toString)
  }

  test("pageRank leaves the caller's AQE on while it runs") {
    assert(aqe == "true")
    assertLoopIsolated(probed(Graph.pageRank(edges.filter(ConfProbe.filter), "src", "dst",
      iterations = 3)))
  }

  test("connectedComponents leaves the caller's AQE on while it runs") {
    val pairs = edges.select(col("src").as("idA"), col("dst").as("idB"))
    assertLoopIsolated(probed(Dedup.connectedComponents(pairs.filter(ConfProbe.filter))))
  }

  test("a conf the caller sets between loops reaches the next loop") {
    val prev = shuffle
    spark.conf.set(SQLConf.SHUFFLE_PARTITIONS.key, "3")
    try {
      val seen = probed(Graph.pageRank(edges.filter(ConfProbe.filter), "src", "dst",
        iterations = 2))
      assert(seen.forall(_.jobShuffle == "3"), seen.distinct.toString)
    } finally spark.conf.set(SQLConf.SHUFFLE_PARTITIONS.key, prev)
  }

  test("the child session is reused until the caller's conf changes") {
    // a fresh clone recompiles every generated class, so loops share one
    def child() = PlanBridge.withChildSession(spark,
      SQLConf.ADAPTIVE_EXECUTION_ENABLED.key -> "false")(identity)
    val first = child()
    assert(child() eq first)
    assert(first.conf.get(SQLConf.ADAPTIVE_EXECUTION_ENABLED.key) == "false" && aqe == "true")
    val prev = shuffle
    spark.conf.set(SQLConf.SHUFFLE_PARTITIONS.key, "3")
    try {
      val next = child()
      assert(!(next eq first))
      assert(next.conf.get(SQLConf.SHUFFLE_PARTITIONS.key) == "3")
    } finally spark.conf.set(SQLConf.SHUFFLE_PARTITIONS.key, prev)
  }

  test("trainMerges leaves the caller's AQE on while its merge rounds run") {
    // the corpus is consumed before the rounds start, so a second thread
    // samples the caller's conf for the whole call instead of a row probe
    val docs = Seq.fill(20)("low lower newest widest").toDF("text")
    val seen = new ConcurrentLinkedQueue[String]()
    @volatile var done = false
    val sampler = new Thread(() => while (!done) { seen.add(aqe); Thread.sleep(1) })
    sampler.start()
    val merges = try Bpe.trainMerges(docs, "text", numMerges = 6).collect()
    finally { done = true; sampler.join() }
    assert(merges.length == 6)
    val values = seen.asScala.toSet
    assert(values == Set("true"), "the caller's AQE was switched off during training")
  }

  test("runToBatch leaves the caller's shuffle partitions as they were") {
    assert(shuffle != "8", "the caller must differ from the stream's count")
    val dir = java.nio.file.Files.createTempDirectory("graft-child-stream").toString
    try {
      (0L until 30L).map(_ % 3).toDF("k").write.mode("overwrite").json(dir)
      val counts = spark.readStream.schema("k LONG").json(dir)
        .filter(ConfProbe.filter).groupBy("k").count()
      val seen = probed(EventStreams.runToBatch(spark, counts))
      assert(seen.forall(_.callerShuffle == shuffle),
        s"the caller's shuffle partitions changed while the stream ran: ${seen.distinct}")
      assert(seen.forall(_.callerAqe == "true"), seen.distinct.toString)
      // the stream itself still runs with its fixed state-partition count
      assert(seen.forall(_.jobShuffle == "8"), seen.distinct.toString)
    } finally org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }
}

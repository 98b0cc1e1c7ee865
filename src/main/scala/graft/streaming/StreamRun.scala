package graft.streaming

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graft.PlanBridge
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery,
  StreamingQueryException, StreamingQueryListener, StreamingQueryProgress,
  StreamingQueryStatus}

/** The one lifecycle of every graft stream, and the only place one starts.
  * A stream's end frees the caller's `onEnd` (a dataset lease) and the
  * listener bus Spark leaves behind for a stateful query's session clone.
  * The end is seen by `stop()`, by an `awaitTermination` that returns, or
  * by one listener backstop when the query dies by itself; whichever comes
  * first frees everything, exactly once. */
object StreamRun {

  /** Start `writer` on `checkpoint` and return its handle, which frees
    * `onEnd` and the query's listener bus when the query ends. The caller
    * owns the lifecycle: stop the handle, or let the query fail. */
  def start(writer: DataStreamWriter[_], checkpoint: String,
            onEnd: () => Unit = () => ()): StreamingQuery =
    new Run(writer.option("checkpointLocation", checkpoint).start(), onEnd)

  /** Run `writer` to completion against its (static) source: name the
    * query `prefix` plus a fresh id, checkpoint to scratch, process all
    * available input, stop, and delete the checkpoint. Returns the query
    * name (a memory sink's table name). */
  def toCompletion(writer: DataStreamWriter[_], prefix: String): String = {
    val name = prefix + java.util.UUID.randomUUID().toString.replace("-", "")
    val ckpt = scratchCheckpointDir(name)
    try {
      val q = start(writer.queryName(name), ckpt)
      try q.processAllAvailable()
      finally q.stop()
    } finally org.apache.hadoop.fs.FileUtil.fullyDelete(new java.io.File(ckpt))
    name
  }

  /** Scratch checkpoint dir for run-to-completion streams: tmpfs
    * (/dev/shm) when present, else the JVM temp dir. These checkpoints are
    * discard-after-run, so the per-micro-batch offset-log and state-store
    * commit fsyncs should hit RAM, not the container's disk. A durable
    * pipeline passes its own checkpoint on real storage to [[start]]. */
  private def scratchCheckpointDir(name: String): String = {
    val shm = java.nio.file.Paths.get("/dev/shm")
    val base =
      if (java.nio.file.Files.isWritable(shm)) shm
      else java.nio.file.Paths.get(System.getProperty("java.io.tmpdir"))
    base.resolve(s"graft_ckpt_$name").toString
  }

  /** The handle: delegates to the running query and ends it once. */
  private final class Run(q: StreamingQuery, onEnd: () => Unit)
      extends StreamingQuery {
    private[this] var ended = false

    // the backstop for a query that terminates WITHOUT stop() (a failed
    // batch, a source failure); its event arrives on the listener thread
    private[this] val backstop = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
        if (e.runId == q.runId) end()
    }
    q.sparkSession.streams.addListener(backstop)
    // registration gap: a query that failed its first batch may have
    // posted its terminated event before the backstop was added (the bus
    // does not replay)
    if (!q.isActive) end()

    /** Free everything once; a second caller waits for the first to
      * finish, so a lease is free when stop() returns. */
    private def end(): Unit = synchronized {
      if (!ended) {
        ended = true
        try onEnd()
        finally {
          q.sparkSession.streams.removeListener(backstop)
          PlanBridge.dropStreamListenerBus(q)
        }
      }
    }

    override def stop(): Unit = try q.stop() finally end()
    override def awaitTermination(): Unit =
      try q.awaitTermination() finally if (!q.isActive) end()
    override def awaitTermination(timeoutMs: Long): Boolean =
      try q.awaitTermination(timeoutMs) finally if (!q.isActive) end()

    override def name: String = q.name
    override def id: java.util.UUID = q.id
    override def runId: java.util.UUID = q.runId
    override def sparkSession: SparkSession = q.sparkSession
    override def isActive: Boolean = q.isActive
    override def exception: Option[StreamingQueryException] = q.exception
    override def status: StreamingQueryStatus = q.status
    override def recentProgress: Array[StreamingQueryProgress] = q.recentProgress
    override def lastProgress: StreamingQueryProgress = q.lastProgress
    override def processAllAvailable(): Unit = q.processAllAvailable()
    override def explain(): Unit = q.explain()
    override def explain(extended: Boolean): Unit = q.explain(extended)
  }
}

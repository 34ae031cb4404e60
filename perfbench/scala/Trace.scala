package perfbench

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Spans recorded by the benchmark around its own calls into each layer,
  * plus the raw events of Spark's public listeners. Everything stays in
  * memory and is written out once, when the run ends; attribution of
  * listener events to spans (by time) and all arithmetic on them happen
  * afterwards, in `perfbench/harness/stats.py`.
  *
  * Times are epoch milliseconds (fractional for spans), the clock the
  * listener events carry. A disabled tracer runs the body and records
  * nothing. */
final class Tracer(val enabled: Boolean) {
  /** id, parent id (-1 for none), operation id, name, start ms, end ms */
  final case class Span(id: Int, parent: Int, op: Int, name: String,
      start: Double, end: Double)

  private val ns0 = System.nanoTime()
  private val ms0 = System.currentTimeMillis().toDouble
  def nowMs: Double = ms0 + (System.nanoTime() - ns0) / 1e6

  val spans = ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var nextId = 0
  private var nextOp = 0
  private var curOp = -1

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val t0 = nowMs
      try body
      finally {
        stack = stack.tail
        spans += Span(id, parent, curOp, name, t0, nowMs)
      }
    }

  /** A top-level operation: its span and all spans under it share an
    * operation id. */
  def op[T](name: String)(body: => T): T = {
    val saved = curOp
    curOp = nextOp
    nextOp += 1
    try span(name)(body) finally curOp = saved
  }
}

/** Listener events: job intervals, task metrics, planning phases and
  * streaming progress. Registered only in traced runs, apart from the
  * trigger durations of streaming queries, which the report of every
  * run states. */
final class Listeners(full: Boolean) {
  val jobs = ArrayBuffer.empty[Array[Double]]       // id, start, end
  val tasks = ArrayBuffer.empty[Array[Double]]      // finish, run, cpu, gc, shuffle, spill
  val plans = ArrayBuffer.empty[Array[Double]]      // start, plan ms
  val progress = ArrayBuffer.empty[Map[String, Double]]
  private val jobStart = scala.collection.mutable.Map.empty[Int, Long]

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      jobStart(e.jobId) = e.time
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobStart.remove(e.jobId).foreach(s =>
        jobs += Array(e.jobId.toDouble, s.toDouble, e.time.toDouble))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val m = e.taskMetrics
      if (m != null) tasks += Array(e.taskInfo.finishTime.toDouble,
        m.executorRunTime.toDouble, m.executorCpuTime / 1e6, m.jvmGCTime.toDouble,
        m.shuffleWriteMetrics.bytesWritten.toDouble,
        (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution,
        durationNs: Long): Unit = synchronized {
      val ph = qe.tracker.phases
      if (ph.nonEmpty) plans += Array(ph.values.map(_.startTimeMs).min.toDouble,
        ph.values.map(p => p.endTimeMs - p.startTimeMs).sum.toDouble)
    }
    override def onFailure(funcName: String, qe: QueryExecution,
        exception: Exception): Unit = ()
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = synchronized {
      val p = e.progress
      val durs = p.durationMs.asScala.map { case (k, v) => k -> v.doubleValue }
        .filter { case (k, _) => full || k == "triggerExecution" }
      val state = if (full && p.stateOperators.nonEmpty) Map(
        "stateCommit" -> p.stateOperators.map(_.commitTimeMs.toDouble).sum,
        "stateRows" -> p.stateOperators.map(_.numRowsTotal.toDouble).sum,
        "stateMem" -> p.stateOperators.map(_.memoryUsedBytes.toDouble).sum)
      else Map.empty[String, Double]
      progress += Map("rows" -> p.numInputRows.toDouble) ++ durs ++ state
    }
  }

  private var registered: Option[SparkSession] = None

  def register(spark: SparkSession, streaming: Boolean): Unit = {
    if (full) {
      spark.sparkContext.addSparkListener(sparkListener)
      spark.listenerManager.register(qeListener)
    }
    if (streaming) spark.streams.addListener(streamListener)
    registered = Some(spark)
  }

  private def sizes: Seq[Int] = synchronized {
    Seq(jobs.size, tasks.size, plans.size, progress.size)
  }

  /** Wait until the (asynchronous) listener buses have gone quiet, then
    * detach. */
  def drain(): Unit = registered.foreach { spark =>
    var prev = Seq.empty[Int]
    var tries = 0
    while (sizes != prev && tries < 20) {
      prev = sizes
      Thread.sleep(100)
      tries += 1
    }
    if (full) {
      spark.sparkContext.removeSparkListener(sparkListener)
      spark.listenerManager.unregister(qeListener)
    }
    spark.streams.removeListener(streamListener)
    registered = None
  }
}

package graft.perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.perfbench.ListenerBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener
import org.json4s.{JObject, JValue}
import org.json4s.JsonDSL._

/** Wall-clock nanoseconds since the epoch, from the monotonic clock: span
  * times and Spark's millisecond event times share one time line, and
  * durations keep nanosecond resolution. */
object Clock {
  private val epochNs = System.currentTimeMillis() * 1000000L
  private val mono0 = System.nanoTime()
  def now(): Long = epochNs + (System.nanoTime() - mono0)
}

/** The benchmark's tracer. `Trace.Off` keeps nothing and touches no Spark
  * state; a recording trace keeps every span in memory and, while it is
  * registered, the benchmark's own Spark, query-execution and streaming
  * listeners count what the engine did underneath each span. Everything is
  * written out once, when the run ends. */
sealed trait Trace {
  /** Run `body` as a span named `<layer>.<function>`; a span opened while
    * another is open on the same thread becomes its child. */
  def span[T](name: String)(body: => T): T
  /** The id of the innermost open span on this thread (0 if none). */
  def current: Long
}

object Trace {
  object Off extends Trace {
    def span[T](name: String)(body: => T): T = body
    def current: Long = 0L
  }

  final case class Span(id: Long, parent: Long, root: Long, name: String,
                        start: Long, end: Long)

  /** One Spark job with its stages' task metrics summed. */
  final class Job(val id: Int, val group: String, val queryId: String,
                  val batchId: String, val start: Long) {
    @volatile var end = 0L
    var stages, singleTaskStages, tasks = 0L
    var runMs, cpuNs, inputBytes, inputRows, shuffleRead, shuffleWrite,
        spill, outputBytes = 0L
  }

  final case class Planning(start: Long, analysisMs: Long, optimizerMs: Long,
                            planningMs: Long)

  final case class Progress(queryId: String, batchId: Long,
                            durations: Map[String, Long])

  /** Group ids the tracer sets on jobs: "pb-<span id>". */
  val GroupPrefix = "pb-"
  // local properties Structured Streaming sets on a micro-batch's jobs
  val QueryIdKey = "sql.streaming.queryId"
  val BatchIdKey = "streaming.sql.batchId"
  /** Longest wait for the listener bus to deliver a call's events. */
  val DrainMs = 10000L

  final class Recording(spark: SparkSession) extends Trace {
    private val ids = new AtomicLong(0)
    private val stack = new ThreadLocal[List[(Long, Long)]] {
      override def initialValue(): List[(Long, Long)] = Nil
    }
    val spans = new ConcurrentLinkedQueue[Span]()
    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
    private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
    val planning = new ConcurrentLinkedQueue[Planning]()
    val progress = new ConcurrentLinkedQueue[Progress]()
    // (query id, batch id) of every micro-batch whose progress arrived
    private val batchesReported = java.util.concurrent.ConcurrentHashMap.newKeySet[(String, String)]()

    def current: Long = stack.get.headOption.fold(0L)(_._1)

    def span[T](name: String)(body: => T): T = {
      val id = ids.incrementAndGet()
      val outer = stack.get
      val root = outer.headOption.fold(id)(_._2)
      val sc = spark.sparkContext
      stack.set((id, root) :: outer)
      sc.setJobGroup(GroupPrefix + id, name, interruptOnCancel = false)
      val t0 = Clock.now()
      try body
      finally {
        spans.add(Span(id, outer.headOption.fold(0L)(_._1), root, name, t0,
          Clock.now()))
        stack.set(outer)
        outer.headOption match {
          case Some((p, _)) => sc.setJobGroup(GroupPrefix + p, "", interruptOnCancel = false)
          case None => sc.clearJobGroup()
        }
      }
    }

    val sparkListener: SparkListener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val p = Option(e.properties)
        def prop(k: String) = p.flatMap(x => Option(x.getProperty(k))).getOrElse("")
        jobs.put(e.jobId, new Job(e.jobId, prop("spark.jobGroup.id"),
          prop(QueryIdKey), prop(BatchIdKey), e.time))
        e.stageIds.foreach(s => stageJob.putIfAbsent(s, e.jobId))
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = {
        Option(jobs.get(e.jobId)).foreach(_.end = e.time)
      }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val info = e.stageInfo
        Option(stageJob.get(info.stageId)).flatMap(j => Option(jobs.get(j)))
          .foreach { j =>
            val m = info.taskMetrics
            j.synchronized {
              j.stages += 1
              if (info.numTasks == 1) j.singleTaskStages += 1
              j.tasks += info.numTasks
              if (m != null) {
                j.runMs += m.executorRunTime
                j.cpuNs += m.executorCpuTime
                j.inputBytes += m.inputMetrics.bytesRead
                j.inputRows += m.inputMetrics.recordsRead
                j.shuffleRead += m.shuffleReadMetrics.totalBytesRead
                j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
                j.spill += m.memoryBytesSpilled + m.diskBytesSpilled
                j.outputBytes += m.outputMetrics.bytesWritten
              }
            }
          }
      }
    }

    val queryListener: QueryExecutionListener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = {
        val ph = qe.tracker.phases
        def ms(k: String) = ph.get(k).fold(0L)(p => p.endTimeMs - p.startTimeMs)
        val start = ph.get("analysis").fold(0L)(_.startTimeMs)
        planning.add(Planning(start, ms("analysis"), ms("optimization"),
          ms("planning")))
      }
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }

    val streamListener: StreamingQueryListener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val p = e.progress
        batchesReported.add((p.id.toString, p.batchId.toString))
        if (p.numInputRows > 0)
          progress.add(Progress(p.id.toString, p.batchId,
            p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap))
      }
    }

    private def drain(): Unit = ListenerBus.waitUntilEmpty(spark.sparkContext, DrainMs)

    /** Attach the listeners, once every event of earlier, untraced calls
      * has been delivered. */
    def register(): Unit = {
      drain()
      spark.sparkContext.addSparkListener(sparkListener)
      spark.listenerManager.register(queryListener)
      spark.streams.addListener(streamListener)
    }

    /** Detach the listeners once every event of the traced call has reached
      * them. A micro-batch reports its progress just after
      * `processAllAvailable` returns, so the bus is drained until every
      * batch that ran a job has reported. */
    def drainAndUnregister(): Unit = {
      val t0 = System.nanoTime()
      def unreported = jobs.values.asScala.exists(j =>
        j.queryId.nonEmpty && !batchesReported.contains((j.queryId, j.batchId)))
      drain()
      while (unreported && (System.nanoTime() - t0) / 1000000 < DrainMs) {
        Thread.sleep(5)
        drain()
      }
      spark.streams.removeListener(streamListener)
      spark.listenerManager.unregister(queryListener)
      spark.sparkContext.removeSparkListener(sparkListener)
    }

    def toJson: JObject =
      ("spans" -> spans.asScala.toList.sortBy(_.id).map(s =>
        List[JValue](s.id, s.parent, s.root, s.name, s.start, s.end))) ~
      ("jobs" -> jobs.values.asScala.toList.sortBy(_.id).map(j => j.synchronized(
        ("id" -> j.id) ~ ("group" -> j.group) ~ ("query_id" -> j.queryId) ~
        ("batch_id" -> j.batchId) ~ ("start_ms" -> j.start) ~ ("end_ms" -> j.end) ~
        ("stages" -> j.stages) ~ ("single_task_stages" -> j.singleTaskStages) ~
        ("tasks" -> j.tasks) ~ ("run_ms" -> j.runMs) ~ ("cpu_ns" -> j.cpuNs) ~
        ("input_bytes" -> j.inputBytes) ~ ("input_rows" -> j.inputRows) ~
        ("shuffle_read" -> j.shuffleRead) ~ ("shuffle_write" -> j.shuffleWrite) ~
        ("spill" -> j.spill) ~ ("output_bytes" -> j.outputBytes)))) ~
      ("planning" -> planning.asScala.toList.map(p =>
        List(p.start, p.analysisMs, p.optimizerMs, p.planningMs))) ~
      ("progress" -> progress.asScala.toList.map(p =>
        ("query_id" -> p.queryId) ~ ("batch_id" -> p.batchId) ~
        ("durations" -> p.durations)))
  }
}

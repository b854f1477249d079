package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageSubmitted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SortExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener
import org.json4s._

/** One timed interval. A `call` span is the root of one client call; its
  * children are `construct`, `plan` and `execute`, or one
  * `index.<family>.<phase>` span. */
final case class Span(id: Long, parent: Long, callId: Long, name: String,
                      startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Spans kept in memory for the length of a run and written out at its
  * end. With tracing off every method is a pass-through, so the untraced
  * run pays one branch per boundary. */
final class Tracer(val enabled: Boolean) {
  private val nextId = new AtomicLong(1)
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Long] = Nil
  @volatile var callId: Long = 0L

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId.getAndIncrement()
      val parent = stack.headOption.getOrElse(0L)
      stack = id :: stack
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack = stack.tail
        spans += Span(id, parent, callId, name, t0, t1)
      }
    }

  /** Self time per span name: each span's duration minus the part of it
    * its direct children cover (children never overlap: one client). */
  def selfSeconds: Map[String, Double] = {
    val childNs = spans.groupBy(_.parent).view
      .mapValues(_.map(s => s.endNs - s.startNs).sum).toMap
    spans.groupBy(_.name).view.mapValues(_.map { s =>
      (s.endNs - s.startNs - childNs.getOrElse(s.id, 0L)) / 1e9
    }.sum).toMap
  }

  def totalSeconds(name: String): Double =
    spans.iterator.filter(_.name == name).map(_.seconds).sum

  def toJson: JValue = JArray(spans.toList.map { s =>
    JObject("id" -> JLong(s.id), "parent" -> JLong(s.parent), "call" -> JLong(s.callId),
      "name" -> JString(s.name), "start_ns" -> JLong(s.startNs), "end_ns" -> JLong(s.endNs))
  })
}

/** Counters of one call, summed from Spark's listener events. */
final class CallCounters {
  var execCpuNs = 0L; var execRunMs = 0L; var gcMs = 0L
  var shuffleWrite = 0L; var shuffleRead = 0L; var fetchWaitMs = 0L
  var spill = 0L; var stages = 0L; var tasks = 0L; var schedDelayMs = 0L
  var peakExecMem = 0L; var inputBytes = 0L; var inputRows = 0L
  var analysisMs = 0L; var optimizeMs = 0L; var physicalMs = 0L
  var exchanges = 0L; var sorts = 0L; var windows = 0L; var broadcasts = 0L
  val taskMsByStage = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]

  /** Mean over stages with at least two tasks of max/median task time. */
  def taskSkew: Double = {
    val ratios = taskMsByStage.values.filter(_.size >= 2).map { ts =>
      val s = ts.sorted
      val med = s(s.size / 2).toDouble
      if (med > 0) s.last / med else 1.0
    }
    if (ratios.isEmpty) 1.0 else ratios.sum / ratios.size
  }
}

/** Spark listener counters attributed to calls. The harness runs each
  * call under the job group `perfbench-<callId>`; stages inherit the call
  * of the job that submitted them and query executions the call of their
  * first job. Events that carry no job group (a job started from a pool
  * thread the group did not reach) go to the call running at the time:
  * there is one client, so only one call runs at a time. */
final class Counters(tracer: Tracer) {
  val byCall = new ConcurrentHashMap[Long, CallCounters]()
  private val stageCall = new ConcurrentHashMap[Int, Long]()
  private val execCall = new ConcurrentHashMap[Long, Long]()
  @volatile var lastEventNs: Long = System.nanoTime()

  // streaming micro-batches, from the StreamingQueryListener
  @volatile var streamBatches = 0L
  @volatile var streamRows = 0L
  @volatile var streamTriggerMs = 0L
  @volatile var streamListMs = 0L

  def of(call: Long): CallCounters =
    byCall.computeIfAbsent(call, _ => new CallCounters)

  private def touch(): Unit = lastEventNs = System.nanoTime()

  private def groupCall(props: java.util.Properties): Long =
    Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .filter(_.startsWith("perfbench-"))
      .map(_.stripPrefix("perfbench-").toLong)
      .getOrElse(tracer.callId)

  val sparkListener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      touch()
      val call = groupCall(e.properties)
      e.stageIds.foreach(s => stageCall.put(s, call))
      Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .foreach(id => execCall.putIfAbsent(id.toLong, call))
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
      touch()
      val call = stageCall.getOrDefault(e.stageInfo.stageId, tracer.callId)
      val c = of(call)
      c.synchronized { c.stages += 1 }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      touch()
      val m = e.taskMetrics
      if (m == null) return
      val info = e.taskInfo
      val c = of(stageCall.getOrDefault(e.stageId, tracer.callId))
      c.synchronized {
        c.tasks += 1
        c.execCpuNs += m.executorCpuTime
        c.execRunMs += m.executorRunTime
        c.gcMs += m.jvmGCTime
        c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        c.shuffleRead += m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead
        c.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        c.peakExecMem = math.max(c.peakExecMem, m.peakExecutionMemory)
        c.inputBytes += m.inputMetrics.bytesRead
        c.inputRows += m.inputMetrics.recordsRead
        val gettingResult =
          if (info.gettingResultTime > 0) info.finishTime - info.gettingResultTime else 0L
        c.schedDelayMs += math.max(0L, info.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime - gettingResult)
        c.taskMsByStage.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += info.duration
      }
    }
  }

  val queryListener: QueryExecutionListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(qe)
  }

  private def record(qe: QueryExecution): Unit = {
    touch()
    val c = of(execCall.getOrDefault(qe.id, tracer.callId))
    val phases = qe.tracker.phases
    def ms(p: String): Long = phases.get(p).map(_.durationMs).getOrElse(0L)
    val nodes = planNodes(qe.executedPlan)
    c.synchronized {
      c.analysisMs += ms("analysis")
      c.optimizeMs += ms("optimization")
      c.physicalMs += ms("planning")
      c.exchanges += nodes.count(_.isInstanceOf[ShuffleExchangeLike])
      c.broadcasts += nodes.count(_.isInstanceOf[BroadcastExchangeLike])
      c.sorts += nodes.count(_.isInstanceOf[SortExec])
      c.windows += nodes.count(_.isInstanceOf[WindowExec])
    }
  }

  /** Every node of an executed plan, through adaptive wrappers, query
    * stages and subqueries. */
  private def planNodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => planNodes(a.executedPlan)
    case q: QueryStageExec => planNodes(q.plan)
    case other => other +: (other.children ++ other.subqueries).flatMap(planNodes)
  }

  val streamingListener: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = touch()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = touch()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = touch()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      touch()
      val p = e.progress
      def ms(k: String): Long = Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
      if (p.numInputRows > 0) {
        streamBatches += 1
        streamRows += p.numInputRows
      }
      streamTriggerMs += ms("triggerExecution")
      streamListMs += ms("latestOffset") + ms("getBatch")
    }
  }

  def register(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(queryListener)
    spark.streams.addListener(streamingListener)
  }

  /** Listener events arrive on Spark's asynchronous bus: wait until it has
    * been quiet for half a second (at most ten seconds). */
  def drain(): Unit = {
    val deadline = System.nanoTime() + 10L * 1000000000L
    while (System.nanoTime() - lastEventNs < 500L * 1000000L && System.nanoTime() < deadline)
      Thread.sleep(50)
  }

  def total: CallCounters = {
    import scala.jdk.CollectionConverters._
    val t = new CallCounters
    byCall.values.asScala.foreach { c =>
      t.execCpuNs += c.execCpuNs; t.execRunMs += c.execRunMs; t.gcMs += c.gcMs
      t.shuffleWrite += c.shuffleWrite; t.shuffleRead += c.shuffleRead
      t.fetchWaitMs += c.fetchWaitMs; t.spill += c.spill; t.stages += c.stages
      t.tasks += c.tasks; t.schedDelayMs += c.schedDelayMs
      t.peakExecMem = math.max(t.peakExecMem, c.peakExecMem)
      t.inputBytes += c.inputBytes; t.inputRows += c.inputRows
      t.analysisMs += c.analysisMs; t.optimizeMs += c.optimizeMs
      t.physicalMs += c.physicalMs; t.exchanges += c.exchanges; t.sorts += c.sorts
      t.windows += c.windows; t.broadcasts += c.broadcasts
    }
    t
  }

  /** Mean task skew over the calls that ran multi-task stages. */
  def meanTaskSkew: Double = {
    import scala.jdk.CollectionConverters._
    val skews = byCall.values.asScala.filter(_.taskMsByStage.values.exists(_.size >= 2))
      .map(_.taskSkew)
    if (skews.isEmpty) 1.0 else skews.sum / skews.size
  }

  def perCallJson: JValue = {
    import scala.jdk.CollectionConverters._
    JArray(byCall.asScala.toList.sortBy(_._1).map { case (id, c) =>
      JObject("call" -> JLong(id), "cpu_s" -> JDouble(c.execCpuNs / 1e9),
        "stages" -> JLong(c.stages), "tasks" -> JLong(c.tasks),
        "shuffle_write_bytes" -> JLong(c.shuffleWrite), "shuffle_read_bytes" -> JLong(c.shuffleRead),
        "exchanges" -> JLong(c.exchanges), "sorts" -> JLong(c.sorts), "windows" -> JLong(c.windows))
    })
  }
}

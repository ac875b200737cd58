package e2ebench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.sun.management.GarbageCollectionNotificationInfo
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Engine-side counters, read from outside the program: a SparkListener
  * for jobs, stages, tasks and their metrics, and a QueryExecutionListener
  * for the planner phases of every query. Counters only grow; a span's
  * share is the difference of two [[snapshot]]s taken after [[drain]]. */
final class Engine extends SparkListener with QueryExecutionListener {
  private val counters = Engine.Keys.map(_ -> new AtomicLong).toMap
  private val jobStarts = new ConcurrentHashMap[Int, java.lang.Long]
  /** (start, end) wall-clock ms of every finished job. */
  val jobSpans = new ConcurrentLinkedQueue[(Long, Long)]

  private def add(k: String, v: Long): Unit = counters(k).addAndGet(v)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    add("jobs", 1)
    jobStarts.put(e.jobId, e.time)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobStarts.remove(e.jobId)).foreach(s => jobSpans.add((s.longValue, e.time)))
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = add("stages", 1)
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    add("tasks", 1)
    if (!e.taskInfo.successful) add("task_failures", 1)
    val m = e.taskMetrics
    if (m != null) {
      add("executor_run_ms", m.executorRunTime)
      add("gc_ms", m.jvmGCTime)
      add("shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten)
      add("spill_bytes", m.memoryBytesSpilled + m.diskBytesSpilled)
      add("bytes_written", m.outputMetrics.bytesWritten)
      // the scheduler-delay formula of Spark's own UI
      add("scheduler_delay_ms", math.max(0L, e.taskInfo.duration - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime - e.taskInfo.gettingResultTime))
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    add("planning_ms", qe.tracker.phases.values.map(_.durationMs).sum)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  /** Wait until every event posted so far has reached the listeners. */
  def drain(spark: SparkSession): Unit =
    org.apache.spark.e2ebench.ListenerBus.drain(spark.sparkContext)

  def snapshot: Map[String, Long] = counters.map { case (k, v) => k -> v.get }

  /** Wall ms inside [from, to] covered by at least one job. */
  def jobCoverMs(from: Long, to: Long): Long = {
    val clipped = jobSpans.asScala.toSeq
      .map { case (s, e) => (math.max(s, from), math.min(e, to)) }
      .filter { case (s, e) => e > s }.sortBy(_._1)
    var covered, curS, curE = 0L
    var open = false
    clipped.foreach { case (s, e) =>
      if (open && s <= curE) curE = math.max(curE, e)
      else {
        if (open) covered += curE - curS
        curS = s; curE = e; open = true
      }
    }
    if (open) covered += curE - curS
    covered
  }
}

object Engine {
  val Keys: Seq[String] = Seq("jobs", "stages", "tasks", "task_failures", "executor_run_ms",
    "gc_ms", "scheduler_delay_ms", "shuffle_write_bytes", "spill_bytes",
    "bytes_written", "planning_ms")

  def diff(after: Map[String, Long], before: Map[String, Long]): Map[String, Long] =
    after.map { case (k, v) => k -> (v - before(k)) }

  def register(spark: SparkSession): Engine = {
    val e = new Engine
    spark.sparkContext.addSparkListener(e)
    spark.listenerManager.register(e)
    e
  }
}

/** Highest heap occupancy left after any garbage collection since the last
  * [[reset]]: the live set plus garbage no collection has reached yet. It
  * does not depend on when a sampler happens to look. */
object HeapPeak {
  private val peak = new AtomicLong
  private lazy val heapPools: Set[String] = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP).map(_.getName).toSet

  private val listener = new NotificationListener {
    override def handleNotification(n: Notification, handback: Any): Unit =
      if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
        val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
          .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
        peak.accumulateAndGet(used, (a, b) => math.max(a, b))
      }
  }

  def install(): Unit = ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: NotificationEmitter => e.addNotificationListener(listener, null, null)
    case _ =>
  }
  def reset(): Unit = peak.set(0L)
  def mb: Double = peak.get / (1024.0 * 1024.0)
}

/** Span recorder of one traced iteration: (name, start, end, parent, run
  * id) per layer boundary, kept in memory. A layer's self time is its
  * span minus its children's spans. Engine counters are read at each
  * boundary, so the per-layer counts are attributed where the work ran. */
final class Tracer(spark: SparkSession, engine: Engine, val runId: String) {
  final case class Span(id: Int, name: String, parent: Int, startNs: Long, endNs: Long,
                        startMs: Long, endMs: Long, layer: Boolean, counters: Map[String, Long])
  val spans = mutable.ArrayBuffer.empty[Span]
  val metrics = mutable.LinkedHashMap.empty[String, Double]
  private var stack = List(-1)
  private var nextId = 0
  /** Engine counters of the most recently closed span. */
  var last: Map[String, Long] = Map.empty

  def add(k: String, v: Double): Unit = metrics(k) = metrics.getOrElse(k, 0.0) + v

  def span[T](name: String, layer: Boolean = false)(body: => T): T = {
    engine.drain(spark)
    val before = engine.snapshot
    val id = nextId
    nextId += 1
    val parent = stack.head
    stack = id :: stack
    val (s0, m0) = (System.nanoTime, System.currentTimeMillis)
    try body
    finally {
      val (s1, m1) = (System.nanoTime, System.currentTimeMillis)
      stack = stack.tail
      engine.drain(spark)
      last = Engine.diff(engine.snapshot, before)
      spans += Span(id, name, parent, s0, s1, m0, m1, layer, last)
    }
  }

  /** A layer's public call plus a noop-sink action over its result. */
  def layer(name: String)(df: => org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    span(name, layer = true) {
      val d = df
      d.write.format("noop").mode("overwrite").save()
      d
    }

  /** A layer whose public call is itself an action (a write). */
  def action[T](name: String)(body: => T): T = span(name, layer = true)(body)

  /** Self times per layer name, plus engine totals over layer spans. */
  def finish(): mutable.LinkedHashMap[String, Double] = {
    val childNs = spans.groupBy(_.parent).map { case (p, cs) => p -> cs.map(c => c.endNs - c.startNs).sum }
    spans.filter(_.layer).foreach { s =>
      add(s.name + ".self_s", (s.endNs - s.startNs - childNs.getOrElse(s.id, 0L)) / 1e9)
      val c = s.counters
      add("spark.jobs", c("jobs").toDouble)
      add("spark.stages", c("stages").toDouble)
      add("spark.tasks", c("tasks").toDouble)
      add("spark.task_failures", c("task_failures").toDouble)
      add("spark.executor_run_s", c("executor_run_ms") / 1e3)
      add("spark.gc_s", c("gc_ms") / 1e3)
      add("spark.scheduler_delay_s", c("scheduler_delay_ms") / 1e3)
      add("spark.shuffle_write_bytes", c("shuffle_write_bytes").toDouble)
      add("spark.spill_bytes", c("spill_bytes").toDouble)
      add("plans.planning_s", c("planning_ms") / 1e3)
      add("spark.driver_blocking_s",
        math.max(0L, (s.endMs - s.startMs) - engine.jobCoverMs(s.startMs, s.endMs)) / 1e3)
    }
    metrics
  }

  def spanRecords(origin: Long): Seq[Map[String, Any]] = spans.toSeq.sortBy(_.startNs).map { s =>
    Map("run" -> runId, "id" -> s.id, "name" -> s.name,
      "parent" -> (if (s.parent < 0) None else Some(s.parent)),
      "start_s" -> (s.startNs - origin) / 1e9, "end_s" -> (s.endNs - origin) / 1e9)
  }
}

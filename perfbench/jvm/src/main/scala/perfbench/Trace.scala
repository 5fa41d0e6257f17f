package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger
import scala.collection.mutable.ArrayBuffer

/** One timed call into a layer. `parent` is -1 for an operation's root. */
final class Span(val id: Int, val parent: Int, val name: String, val op: Int, val start: Long) {
  var end: Long = 0L
  var error: String = ""
  /** Spark task metrics of the jobs submitted while this span was innermost. */
  val spark: Array[Double] = new Array[Double](Tracer.SparkMetrics.size)
  var cacheStartMb: Double = 0.0
  var cacheMb: Double = 0.0
}

/** Spans around the benchmark's calls into each layer, plus a listener
  * that attributes Spark task metrics to the innermost open span through
  * a job-local property.
  *
  * With tracing off, [[span]] only keeps the stack of span names (so a
  * failure can report where it happened) and [[force]] is the identity:
  * the measured plan is the one a user would run. With tracing on, each
  * span's output is forced at its end (persist + count), so a lazy layer
  * is billed for its own work instead of the action that consumes it.
  * The listeners are registered only when `enabled`; [[on]] switches
  * tracing per operation.
  */
final class Tracer(spark: SparkSession, enabled: Boolean) {
  import Tracer._
  private val sc = spark.sparkContext
  val spans = ArrayBuffer[Span]()
  private var stack = List.empty[(String, Span)]
  private var op = -1
  var on: Boolean = enabled
  /** Span path at the first exception of the current operation. */
  var failedPath: String = ""
  private val held = ArrayBuffer[DataFrame]()

  private val stageSpan = new ConcurrentHashMap[Int, Span]()
  private val jobsStarted = new AtomicInteger()
  private val jobsEnded = new AtomicInteger()

  if (enabled) sc.addSparkListener(new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      jobsStarted.incrementAndGet()
      val id = Option(e.properties).flatMap(p => Option(p.getProperty(Key))).map(_.toInt)
      id.foreach { i =>
        val s = spans.synchronized(spans(i))
        s.synchronized(s.spark(Jobs) += 1)
        e.stageIds.foreach(st => stageSpan.put(st, s))
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = jobsEnded.incrementAndGet()
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val s = stageSpan.get(e.stageId)
      val m = e.taskMetrics
      if (s != null && m != null) s.synchronized {
        val a = s.spark
        a(Tasks) += 1
        a(RunS) += m.executorRunTime / 1e3
        a(CpuS) += m.executorCpuTime / 1e9
        a(GcS) += m.jvmGCTime / 1e3
        a(InputMb) += m.inputMetrics.bytesRead / 1e6
        a(OutputMb) += m.outputMetrics.bytesWritten / 1e6
        a(ShuffleWriteMb) += m.shuffleWriteMetrics.bytesWritten / 1e6
        a(ShuffleReadMb) += m.shuffleReadMetrics.totalBytesRead / 1e6
        a(SpillMb) += (m.memoryBytesSpilled + m.diskBytesSpilled) / 1e6
        a(PeakExecMemMb) = math.max(a(PeakExecMemMb), m.peakExecutionMemory / 1e6)
      }
    }
  })

  /** Analysis + optimization + physical planning time of finished actions. */
  val planMs = new java.util.concurrent.atomic.AtomicLong()
  if (enabled) spark.listenerManager.register(new org.apache.spark.sql.util.QueryExecutionListener {
    override def onSuccess(f: String, qe: org.apache.spark.sql.execution.QueryExecution, ns: Long): Unit =
      planMs.addAndGet(qe.tracker.phases.values.map(_.durationMs).sum)
    override def onFailure(f: String, qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()
  })

  def beginOp(i: Int): Unit = { op = i; failedPath = "" }

  /** Release what [[force]] persisted during the operation. */
  def endOp(): Unit = { held.foreach(_.unpersist(blocking = true)); held.clear() }

  /** Slash-joined names of the open spans, outermost first. */
  def path: String = stack.reverseIterator.map(_._1).mkString("/")

  def span[A](name: String)(body: => A): A = {
    val s =
      if (!on) null
      else spans.synchronized {
        val s = new Span(spans.size, stack.headOption.flatMap(x => Option(x._2)).map(_.id).getOrElse(-1),
          name, op, System.nanoTime())
        s.cacheStartMb = cachedMb()
        spans += s
        s
      }
    stack = (name, s) :: stack
    if (on) sc.setLocalProperty(Key, s.id.toString)
    try body
    catch {
      case t: Throwable =>
        if (failedPath.isEmpty) failedPath = path
        if (s != null) s.error = t.getClass.getName
        throw t
    }
    finally {
      if (on) {
        s.end = System.nanoTime()
        s.cacheMb = cachedMb()
      }
      stack = stack.tail
      if (on) sc.setLocalProperty(Key, stack.headOption.flatMap(x => Option(x._2)).map(_.id.toString).orNull)
    }
  }

  private def cachedMb(): Double = sc.getRDDStorageInfo.map(r => (r.memSize + r.diskSize) / 1e6).sum

  /** Traced mode: materialize `df` here so its cost lands in the open span. */
  def force(df: DataFrame): DataFrame =
    if (!on) df
    else {
      val p = df.persist(StorageLevel.MEMORY_AND_DISK)
      p.count()
      held += p
      p
    }

  /** Wait until the listener has seen every job end, so span metrics are complete. */
  def drain(timeoutMs: Long = 10000L): Unit = if (on) {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (jobsEnded.get() < jobsStarted.get() && System.currentTimeMillis() < deadline) Thread.sleep(10)
    Thread.sleep(50) // let query-listener events queued behind the last job end arrive
  }
}

object Tracer {
  val Key = "perfbench.span"
  val SparkMetrics: Seq[String] = Seq("jobs", "tasks", "task_run_s", "cpu_s", "gc_s", "input_mb",
    "output_mb", "shuffle_write_mb", "shuffle_read_mb", "spill_mb", "peak_exec_mem_mb")
  val Jobs = 0; val Tasks = 1; val RunS = 2; val CpuS = 3; val GcS = 4; val InputMb = 5
  val OutputMb = 6; val ShuffleWriteMb = 7; val ShuffleReadMb = 8; val SpillMb = 9; val PeakExecMemMb = 10
}

package graftbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Listener counters at one instant; `-` gives what an operation
  * moved. */
final case class Counters(v: Vector[Long]) {
  def -(o: Counters): Counters = Counters(v.zip(o.v).map { case (a, b) => a - b })
  def analysisMs: Long = v(Counters.names.indexOf("analysis_ms"))
  def optimizationMs: Long = v(Counters.names.indexOf("optimization_ms"))
  def planningMs: Long = v(Counters.names.indexOf("planning_ms"))
  def json: String = Json.obj(Counters.names.zip(v.map(_.toString)): _*)
}

object Counters {
  val names: Vector[String] = Vector(
    "jobs", "stages", "tasks", "task_run_ms", "task_cpu_ns", "gc_ms",
    "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
    "output_bytes", "blocks_dropped", "blocks_demoted",
    "analysis_ms", "optimization_ms", "planning_ms")
}

/** The traced run's only instrumentation: Spark's public
  * `SparkListener` (jobs, stages, task metrics, block updates) and
  * `QueryExecutionListener` (the Catalyst phases each action's
  * `QueryExecution.tracker` recorded). Listener events arrive on the
  * listener bus thread, so `snapshot` first drains the bus; that is
  * what lets a counter delta be charged to exactly one operation. */
final class Tracer(spark: SparkSession) extends SparkListener
    with QueryExecutionListener {
  private val c = Array.fill(Counters.names.size)(0L)
  private val jobStart = mutable.Map[Int, Long]()
  private val jobs = mutable.Buffer[(Int, Long, Long)]()
  private def add(name: String, n: Long): Unit =
    c(Counters.names.indexOf(name)) += n

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    add("jobs", 1); jobStart(e.jobId) = e.time
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs += ((e.jobId, jobStart.remove(e.jobId).getOrElse(e.time), e.time))
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized(add("stages", 1))
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    add("tasks", 1)
    if (m != null) {
      add("task_run_ms", m.executorRunTime)
      add("task_cpu_ns", m.executorCpuTime)
      add("gc_ms", m.jvmGCTime)
      add("shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead)
      add("shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten)
      add("spill_bytes", m.memoryBytesSpilled + m.diskBytesSpilled)
      add("output_bytes", m.outputMetrics.bytesWritten)
    }
  }
  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val info = e.blockUpdatedInfo
    if (info.blockId.isRDD) {
      val lvl = info.storageLevel
      if (!lvl.isValid) add("blocks_dropped", 1)
      else if (lvl.useDisk && !lvl.useMemory && info.memSize == 0) add("blocks_demoted", 1)
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    phases(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    phases(qe)
  private def phases(qe: QueryExecution): Unit = synchronized {
    val p = qe.tracker.phases
    for (k <- Seq("analysis", "optimization", "planning"))
      p.get(k).foreach(s => add(s"${k}_ms", s.durationMs))
  }

  /** Drains the listener bus, then copies the counters. */
  def snapshot(): Counters = {
    Tracer.drain(spark)
    synchronized(Counters(c.toVector))
  }

  /** Jobs that ended since the last call: (id, start ms, end ms). */
  def takeJobs(): Seq[(Int, Long, Long)] = synchronized {
    val out = jobs.toList; jobs.clear(); out
  }
}

object Tracer {
  def install(spark: SparkSession): Tracer = {
    val t = new Tracer(spark)
    spark.sparkContext.addSparkListener(t)
    spark.listenerManager.register(t)
    t
  }

  /** `LiveListenerBus.waitUntilEmpty` is `private[spark]` in source
    * but public in bytecode; the benchmark reaches it by reflection. */
  def drain(spark: SparkSession): Unit = {
    val sc = spark.sparkContext
    val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
    bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
  }
}

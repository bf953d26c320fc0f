package graftbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Monotonic run clock: seconds since the harness started, plus the
  * conversion for the wall-clock milliseconds Spark's listener events
  * carry. */
final class Clock {
  private val nano0 = System.nanoTime()
  private val epoch0 = System.currentTimeMillis()
  def now(): Double = (System.nanoTime() - nano0) / 1e9
  def fromEpochMs(ms: Long): Double = (ms - epoch0) / 1000.0
}

/** The plan run.py writes: one `key=value` per line, lists
  * comma-separated. */
final class Plan(kv: Map[String, String]) {
  def get(k: String): String =
    kv.getOrElse(k, throw new IllegalArgumentException(s"plan has no '$k'"))
  def list(k: String): Seq[String] =
    kv.get(k).toSeq.flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty)
}

object Plan {
  def load(path: String): Plan = {
    val src = scala.io.Source.fromFile(path, "UTF-8")
    try new Plan(src.getLines().filter(_.contains("=")).map { l =>
      val i = l.indexOf('='); l.substring(0, i).trim -> l.substring(i + 1).trim
    }.toMap)
    finally src.close()
  }
}

/** Minimal JSON writer; values passed to `obj`/`arr` are already JSON. */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
  def num(d: Double): String = java.lang.Double.toString(d)
  def obj(kv: (String, String)*): String =
    kv.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
  def arr(vs: Iterable[String]): String = vs.mkString("[", ",", "]")
}

/** Spans and per-operation records of one run. Spans are kept in
  * memory and written once, with the record, when the run ends. */
final class Record(val clock: Clock, runId: String) {
  private final class Span(val id: Int, val name: String, val parent: Int,
                           var start: Double, var end: Double)
  private val spanBuf = mutable.ArrayBuffer[Span]()
  private var cacheBytes = 0L
  private var cacheEntries = 0L

  def open(name: String, parent: Int): Int = {
    val s = new Span(spanBuf.size + 1, name, parent, clock.now(), Double.NaN)
    spanBuf += s
    s.id
  }
  def close(id: Int): Unit = span(id).end = clock.now()
  def add(name: String, parent: Int, start: Double, end: Double): Unit =
    spanBuf += new Span(spanBuf.size + 1, name, parent, start, end)
  private def span(id: Int): Span = spanBuf(id - 1)
  def startOf(id: Int): Double = span(id).start
  def endOf(id: Int): Double = span(id).end
  def move(id: Int, start: Double, end: Double): Unit = {
    span(id).start = start; span(id).end = end
  }

  def spans: Seq[String] = spanBuf.toSeq.map { s =>
    Json.obj("id" -> s.id.toString, "parent" -> s.parent.toString,
      "name" -> Json.str(s.name), "start" -> Json.num(s.start),
      "end" -> Json.num(if (s.end.isNaN) s.start else s.end),
      "run" -> Json.str(runId))
  }

  /** Cached-RDD occupancy (memory + disk) and entry count, polled after
    * every operation; the peaks are what the run reports. */
  def pollCache(spark: SparkSession): Unit = {
    val infos = spark.sparkContext.getRDDStorageInfo.toSeq: @annotation.nowarn("cat=deprecation")
    cacheBytes = math.max(cacheBytes, infos.map(i => i.memSize + i.diskSize).sum)
    cacheEntries = math.max(cacheEntries, infos.size.toLong)
  }
  def cachePeakBytes: Long = cacheBytes
  def cacheEntriesPeak: Long = cacheEntries

  def op(kind: String, name: String, parent: Int, tracer: Tracer): Op =
    new Op(this, kind, name, open(s"$kind:$name", parent), tracer)
}

/** One operation (a publish, an append or a query): its wall time,
  * its outcome and, in a traced run, the listener counters it moved. */
final class Op(rec: Record, kind: String, name: String, val span: Int,
               tracer: Tracer) {
  private val clock = rec.clock
  private val t0 = clock.now()
  private var buildEnd = Double.NaN
  private var execStart = Double.NaN
  private var end = Double.NaN
  private var error: Option[String] = None
  private val extra = mutable.LinkedHashMap[String, String]()
  private val before = if (tracer == null) null else tracer.snapshot()
  private var atBuild: Counters = null
  private var buildSpan, execSpan = 0

  def put(k: String, v: String): Op = { extra(k) = v; this }
  def fail(e: Throwable): Unit = error = Some(Harness.errName(e))

  /** End of the build step of a query. In a traced run the bus is
    * drained here so build-time jobs are told apart from exec jobs;
    * the drain is excluded from both steps. */
  def buildDone(span: Int): Unit = {
    buildSpan = span
    buildEnd = clock.now()
    if (tracer != null) atBuild = tracer.snapshot()
    execStart = clock.now()
  }

  /** After the action: the plan span covers the Catalyst phases the
    * action's QueryExecution tracked, placed at the start of the
    * action; the exec span is the remainder. */
  def splitPlan(planSpan: Int, exec: Int): Unit = {
    execSpan = exec
    end = rec.endOf(execSpan)
    execStart = rec.startOf(execSpan)
    val planS =
      if (tracer == null) 0.0
      else {
        val d = tracer.snapshot() - atBuild
        (d.analysisMs + d.optimizationMs + d.planningMs) / 1000.0
      }
    val planEnd = math.min(execStart + planS, end)
    rec.move(planSpan, execStart, planEnd)
    rec.move(execSpan, planEnd, end)
  }

  def finish(spark: SparkSession): String = {
    if (end.isNaN) end = clock.now()
    val fields = mutable.LinkedHashMap[String, String](
      "kind" -> Json.str(kind), "name" -> Json.str(name),
      "t0" -> Json.num(t0), "t1" -> Json.num(end),
      "error" -> error.fold("null")(Json.str))
    if (!buildEnd.isNaN) {
      fields("build_s") = Json.num(buildEnd - t0)
      fields("exec_s") = Json.num(end - execStart)
    }
    fields("wall_s") = Json.num(
      if (buildEnd.isNaN) end - t0 else (buildEnd - t0) + (end - execStart))
    fields ++= extra
    if (tracer != null) {
      val after = tracer.snapshot()
      fields("counters") = (after - before).json
      if (atBuild != null) fields("build_counters") = (atBuild - before).json
      for ((id, s, e) <- tracer.takeJobs()) {
        val start = clock.fromEpochMs(s)
        val parent =
          if (buildSpan == 0) span
          else if (start < buildEnd) buildSpan
          else execSpan
        rec.add(s"job:$id", parent, start, clock.fromEpochMs(e))
      }
    }
    rec.close(span)
    if (spark != null) rec.pollCache(spark)
    Json.obj(fields.toSeq: _*)
  }
}

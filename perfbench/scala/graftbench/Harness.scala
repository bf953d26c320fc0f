package graftbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.concurrent.Await
import scala.concurrent.duration._

import org.apache.spark.sql.{Observation, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators._
import graft.streaming.StreamingOps

/** One benchmark run of one workload in a fresh JVM.
  *
  * Set-up: a session build plus a cold publish of the fixtures the
  * run's queries read, on a fresh copy of the inputs (a new source
  * fingerprint, so `CachedDir` publishes cold).
  * Timed phase: the incremental-ingest loop, if
  * the plan has one, then the query list, one operation at a time
  * (closed loop, one client). Every query is fully materialized into
  * Spark's `noop` sink under a `Dataset.observe` that collects its row
  * count and an order-independent content hash.
  *
  * Everything is timed from outside, around calls into the program's
  * public functions. With `trace=1` the run also registers one
  * SparkListener and one QueryExecutionListener, drains the listener
  * bus after each operation and records spans; without it, none of
  * that happens. The raw record goes to `out` as JSON; perfbench/run.py
  * turns it into metrics and checks it.
  *
  * Usage: Harness <plan file>, a `key=value` file written by run.py. */
object Harness {
  type Publisher = (SparkSession, String) => Any

  val fixtures: Map[String, Publisher] = Map(
    "session_store" -> WindowOps.sessionStore _,
    "layout" -> LayoutOps.prepare _,
    "events_byday" -> RelationalOps.partitionedEventsDir _,
    "ivf_index" -> LlmOps.ivfIndexDir _,
    "pq_index" -> LlmOps.pqIndexDir _,
    "cluster_store" -> LlmOps.clusterStoreDir _,
    "doc_cluster_store" -> CurationOps.docClusterStoreDir _,
    "ingest_sink" -> IngestOps.ingestSinkDir _,
    "hist_report" -> IngestOps.historyReportDir _,
    "format" -> FormatOps.prepare _,
    "basket_store" -> AffinityOps.basketStoreDir _,
    "trade_edge_store" -> GraphOps.tradeEdgeStoreDir _,
    "stream_source" -> StreamingOps.streamSourceDir _)

  def main(args: Array[String]): Unit = {
    val plan = Plan.load(args(0))
    val clock = new Clock
    val rec = new Record(clock, plan.get("run_id"))
    val traced = plan.get("trace") == "1"
    val cores = plan.get("cores").toInt
    val d = plan.get("data")
    val runSpan = rec.open("run", 0)

    // ---- set-up: session build + cold publish
    val setupSpan = rec.open("setup", runSpan)
    val t0 = clock.now()
    val sessionSpan = rec.open("session", setupSpan)
    val spark = graft.GraftSession.builder(s"local[$cores]", cores)
      .config("spark.sql.warehouse.dir", plan.get("warehouse"))
      .config("spark.local.dir", plan.get("local_dir"))
      .getOrCreate()
    val t1 = clock.now()
    rec.close(sessionSpan)
    spark.sparkContext.setLogLevel("WARN")
    val tracer = if (traced) Tracer.install(spark) else null
    val pubs = mutable.Buffer[String]()
    def publish(name: String)(body: => Any): Unit = {
      val op = rec.op("publish", name, setupSpan, tracer)
      try body catch { case e: Throwable => op.fail(e) }
      pubs += op.finish(spark)
    }
    for (f <- plan.list("fixtures")) publish(f)(fixtures(f)(spark, d))
    // the gated streaming drains this run's queries read; each query
    // function publishes its own drain (the same calls
    // StreamingOps.prepareGatedStreams makes, one per stream)
    val gated = plan.list("gated")
    if (gated.nonEmpty) publish("gated_streams") {
      gated.foreach(q => graft.SparkEntry.queries(q)(spark, d))
    }
    val t2 = clock.now()
    rec.close(setupSpan)
    val fixtureDirsBefore = fixtureDirs(d)

    // ---- timed phase
    val timed0 = clock.now()
    val ingest = plan.list("ingest_cuts_us").map(_.toLong)
    val appends = mutable.Buffer[String]()
    val rounds =
      if (ingest.isEmpty) Seq.empty else batches(ingest, plan.get("ingest_overlap_s").toLong)
    if (ingest.nonEmpty) {
      val redeliver = plan.get("ingest_redeliver").toInt
      val sink = plan.get("ingest_sink")
      val ingestSpan = rec.open("ingest", runSpan)
      val ev = graft.Tables.events(spark, d)
      val schedule = rounds.indices.map(i => (f"r$i%02d", i)) :+ ("redeliver" -> redeliver)
      for ((label, i) <- schedule) {
        val op = rec.op("append", label, ingestSpan, tracer)
        try {
          val n = IngestOps.incrementalAppend(
            spark, ev.filter(rounds(i)), sink, "ts", Seq("event_id"))
          op.put("rows", n.toString)
        } catch { case e: Throwable => op.fail(e) }
        appends += op.finish(spark)
      }
      rec.close(ingestSpan)
    }
    val ingest1 = clock.now()
    val queries = mutable.Buffer[String]()
    for ((q, i) <- plan.list("queries").zipWithIndex)
      queries += runQuery(spark, d, q, i, rec, runSpan, tracer)
    val timed1 = clock.now()
    val inQuery = fixtureDirs(d) -- fixtureDirsBefore

    // ---- untimed checks
    val ingestCheck =
      if (ingest.isEmpty) "null"
      else try {
        val ev = graft.Tables.events(spark, d)
        val perRound = ev.agg(sum(when(rounds.head, 1L).otherwise(0L)),
          rounds.tail.map(c => sum(when(c, 1L).otherwise(0L))): _*).head()
        val offered = rounds.indices.map(perRound.getLong) :+
          perRound.getLong(plan.get("ingest_redeliver").toInt)
        val sink = spark.read.parquet(plan.get("ingest_sink"))
        Json.obj(
          "offered" -> Json.arr(offered.map(_.toString)),
          "distinct_ids" -> ev.select("event_id").distinct().count().toString,
          "sink_rows" -> sink.count().toString,
          "bytes_written" -> dirBytes(Paths.get(plan.get("ingest_sink"))).toString)
      } catch { case e: Throwable => Json.obj("error" -> Json.str(errName(e))) }
    rec.close(runSpan)
    val out = Json.obj(
      "run_id" -> Json.str(plan.get("run_id")),
      "all_queries" -> Json.arr(graft.SparkEntry.queries.keys.map(Json.str)),
      "setup" -> Json.obj("build_s" -> Json.num(t1 - t0),
        "s" -> Json.num(t2 - t0), "publish" -> Json.arr(pubs)),
      "timed_s" -> Json.num(timed1 - timed0),
      "query_phase_s" -> Json.num(timed1 - ingest1),
      "appends" -> Json.arr(appends),
      "queries" -> Json.arr(queries),
      "ingest_check" -> ingestCheck,
      "publish_in_query" -> Json.arr(inQuery.toSeq.sorted.map(Json.str)),
      "cache_peak_bytes" -> rec.cachePeakBytes.toString,
      "cache_entries_peak" -> rec.cacheEntriesPeak.toString,
      "rss_hwm_kb" -> vmHwmKb().toString,
      "spans" -> (if (traced) Json.arr(rec.spans) else "[]"))
    Files.write(Paths.get(plan.get("out")), out.getBytes(UTF_8))
    spark.stop()
  }

  /** One timed query: build the frame (operators layer), then write it
    * in full to the `noop` sink under an observe that collects the
    * row count and an order-independent content hash. */
  private def runQuery(spark: SparkSession, d: String, q: String, i: Int,
                       rec: Record, parent: Int, tracer: Tracer): String = {
    val op = rec.op("query", q, parent, tracer)
    try {
      val buildSpan = rec.open("build", op.span)
      val df = graft.SparkEntry.queries(q)(spark, d)
      rec.close(buildSpan)
      op.buildDone(buildSpan)
      val h = xxhash64(df.columns.map(c => col("`" + c + "`")).toSeq: _*)
      val ob = Observation(s"graftbench_$i")
      val planSpan = rec.open("plan", op.span)
      val execSpan = rec.open("exec", op.span)
      df.observe(ob, count(lit(1)).as("n"), bit_xor(h).as("x"),
          sum(h.bitwiseAND(lit(0xFFFFFL))).as("s"))
        .write.format("noop").mode("overwrite").save()
      rec.close(execSpan)
      op.splitPlan(planSpan, execSpan)
      val row = Await.result(ob.future, 60.seconds)
      def field(k: String) =
        if (row.isNullAt(row.fieldIndex(k))) "null"
        else Json.str(row.getAs[Any](k).toString)
      op.put("n", field("n")).put("x", field("x")).put("s", field("s"))
    } catch { case e: Throwable => op.fail(e) }
    op.finish(spark)
  }

  /** Daily batches: round i holds events in [cut(i-1) - overlap,
    * cut(i)); the first has no lower bound, the last no upper bound,
    * so the rounds together offer every event and each round but the
    * first re-offers the previous round's last `overlap` seconds. */
  private def batches(cutsUs: Seq[Long], overlapS: Long) =
    (0 to cutsUs.size).map { i =>
      val ts = col("ts")
      val lo = if (i == 0) lit(true) else ts >= timestamp_micros(lit(cutsUs(i - 1) - overlapS * 1000000L))
      val hi = if (i == cutsUs.size) lit(true) else ts < timestamp_micros(lit(cutsUs(i)))
      lo && hi
    }

  /** Published fixture directories of this run's source copies. The
    * program's `CachedDir` names them /tmp/graft_<epoch>_<tag>_<source
    * dir>_<fingerprint>; a directory that appears during the timed
    * phase is a fixture published inside a query. */
  private def fixtureDirs(d: String): Set[String] = {
    val key = "_" + d.replaceAll("[^A-Za-z0-9.]", "_") + "_"
    val tmp = new java.io.File("/tmp").list()
    if (tmp == null) Set.empty
    else tmp.filter(n => n.startsWith("graft_") && n.contains(key)).toSet
  }

  private def dirBytes(p: java.nio.file.Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
      finally s.close()
    }

  private def vmHwmKb(): Long =
    try {
      val lines = scala.io.Source.fromFile("/proc/self/status")
      try lines.getLines().find(_.startsWith("VmHWM:"))
        .map(_.replaceAll("[^0-9]", "").toLong).getOrElse(0L)
      finally lines.close()
    } catch { case _: java.io.IOException => 0L }

  def errName(e: Throwable): String = {
    val root = Iterator.iterate(e)(_.getCause).takeWhile(_ != null).toSeq.last
    val msg = String.valueOf(root.getMessage).linesIterator.toSeq.headOption.getOrElse("")
    e.getClass.getName + (if (root ne e) " <- " + root.getClass.getName else "") +
      ": " + msg.take(300)
  }
}

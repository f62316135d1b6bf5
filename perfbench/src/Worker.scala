package perfbench

import graft.IngestJob
import graft.operators.Ingest
import graft.sources.Sources
import graft.streaming.StreamingIngest
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.util.QueryExecutionListener

import java.nio.file.{Files, Paths}
import java.util.concurrent.TimeUnit
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** The JVM side of the snapshot-ingest benchmark.  `run.py` generates the
  * inputs, starts this process, and checks and summarises what it records.
  *
  * It reaches the program only through its public entry points:
  * `IngestJob.run` for batch, and `format("kafkalog")` →
  * `StreamingIngest.parseKafkaShaped` → `StreamingIngest.latestWinsUpdatesTws`
  * → `format("kafkalog")` for streaming.  Its session is the one
  * `IngestJob.main` builds.
  *
  * With `trace=1` it also runs the same composition cut at each layer into
  * a `noop` sink, and records per-task, per-query and per-trigger metrics
  * with its own listeners.  Everything it measures goes, raw, into the
  * `results` JSON file.
  *
  * Arguments, as key=value: mode=batch|stream input work results seconds
  * trace cpus [cap partitions] (cap and partitions for stream mode).
  */
object Worker {

  private val RocksDb =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  def main(argv: Array[String]): Unit = {
    val a = argv.map { kv => val i = kv.indexOf('='); kv.take(i) -> kv.drop(i + 1) }.toMap
    val w = new Worker(a)
    try w.run() finally w.close()
  }

  def seconds(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def peakRssKb(): Long =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toLong).getOrElse(-1L)
}

class Worker(a: Map[String, String]) {
  import Worker._

  private val mode = a("mode")
  private val input = a("input")
  private val work = a("work")
  private val budget = a("seconds").toDouble
  private val trace = a("trace") == "1"
  private val cpus = a("cpus").toInt
  private val out = mutable.LinkedHashMap[String, AnyRef]()
  private val runs = new java.util.ArrayList[java.util.Map[String, Any]]()
  private var spark: SparkSession = _
  private var tracer: Tracer = _

  /** The session `IngestJob.main` builds; the stream also sets RocksDB. */
  private def session(): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-ingest")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.codegen.hugeMethodLimit", "8000")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
    if (mode == "stream")
      b.config("spark.sql.streaming.stateStore.providerClass", RocksDb)
        .config("spark.sql.streaming.numRecentProgressUpdates", "10000")
    b.getOrCreate()
  }

  /** Set-up: this JVM's first session build, until it has run a query.  A
    * rebuild in the same JVM would hit JVM-wide caches (loaded classes,
    * generated code) and hide the very work that could move into set-up.
    */
  private def setUp(): Unit = {
    val t0 = System.nanoTime()
    spark = session()
    spark.sql("SELECT 1").collect()
    out("setup_s") = Double.box(seconds(t0))
  }

  private def record(r: (String, Any)*): Unit = runs.add(r.toMap.asJava)

  private def compiles(): Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  def run(): Unit = {
    setUp()
    if (trace) {
      tracer = new Tracer
      spark.sparkContext.addSparkListener(tracer)
      spark.listenerManager.register(tracer)
    }
    if (mode == "batch") batch() else stream()
    if (tracer != null) { tracer.drain(); out("trace") = tracer.dump() }
    out("peak_rss_kb") = Long.box(peakRssKb())
    out("runs") = runs
    val json = new com.fasterxml.jackson.databind.ObjectMapper().writeValueAsString(out.asJava)
    Files.writeString(Paths.get(a("results")), json)
  }

  def close(): Unit = if (spark != null) spark.stop()

  // ------------------------------------------------------------------ batch

  private var outSeq = 0
  private def nextOut(): String = { outSeq += 1; s"$work/out/snap-$outSeq" }

  /** Time `body`, tagged for the tracer; returns wall seconds. */
  private def timed(tag: String)(body: => Unit): Double = {
    spark.sparkContext.setLocalProperty(Tracer.TagKey, tag)
    val c0 = compiles()
    val (t0, ms0) = (System.nanoTime(), System.currentTimeMillis())
    try body finally spark.sparkContext.setLocalProperty(Tracer.TagKey, null)
    val dt = seconds(t0)
    if (tracer != null) tracer.window(tag, ms0, System.currentTimeMillis(), compiles() - c0)
    dt
  }

  /** One `IngestJob.run`; records its wall time and the time until its
    * snapshot's `_SUCCESS` marker was written.
    */
  private def ingest(tag: String, phase: String): Unit = {
    val path = nextOut()
    val startUs = TimeUnit.MILLISECONDS.toMicros(System.currentTimeMillis())
    var n = 0L
    val wall = timed(tag) { n = IngestJob.run(spark, IngestJob.Args(input = input, output = path)) }
    val doneUs = Files.getLastModifiedTime(Paths.get(path, "_SUCCESS")).to(TimeUnit.MICROSECONDS)
    record("phase" -> phase, "tag" -> tag, "wall_s" -> wall,
      "visible_s" -> (doneUs - startUs) / 1e6, "rows" -> n, "output" -> path)
  }

  /** After the first run: untimed runs until the JIT has settled (on the
    * 4-core machine this was built on, warm runs kept shrinking for about
    * six runs).
    */
  private val WarmUpRuns = 6

  private def batch(): Unit = {
    ingest("first", "first")
    for (i <- 0 until WarmUpRuns) ingest(s"warmup#$i", "warmup")
    if (!trace) {
      val t0 = System.nanoTime()
      var i = 0
      while (i < 2 || seconds(t0) < budget) { ingest(s"warm#$i", "warm"); i += 1 }
    } else batchLayers()
  }

  // The same composition `IngestJob.run` makes, cut after each layer.
  private def scanned: DataFrame = spark.read.parquet(input)
  private def parsed: DataFrame = Ingest.parseLenient(
    scanned.select(col("partition"), col("offset"), col("value").cast("string").as("value")),
    jsonCol = "value", schema = Ingest.msgSchema,
    defaults = Map("id" -> lit(0L), "msg" -> lit("")))
  private def deduped: DataFrame = Sources.kafkaShapedToSnapshot(scanned, scoped = false)

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  private def batchLayers(): Unit = {
    val reps = 3
    for (rep <- 0 until reps) {
      val cuts: Seq[(String, () => Unit)] = Seq(
        "scan" -> (() => noop(scanned.select("partition", "offset", "value"))),
        "parse" -> (() => noop(parsed)),
        "dedup" -> (() => noop(deduped)),
        "write" -> { () => val p = nextOut(); Ingest.writeSnapshotJson(deduped, p)
          record("phase" -> "write", "tag" -> s"write#$rep", "output" -> p) })
      cuts.foreach { case (cut, body) =>
        val tag = s"$cut#$rep"
        record("phase" -> "layer", "cut" -> cut, "rep" -> rep, "tag" -> tag,
          "wall_s" -> timed(tag)(body()))
      }
      ingest(s"run#$rep", "layer_run")
    }
    // counted once, untimed: rows leaving the parse layer
    out("parse_records_out") = Long.box(parsed.count())
    for (i <- 0 until 2) {
      untraced(ingest(s"untraced#$i", "overhead_untraced"))
      ingest(s"traced#$i", "overhead_traced")
    }
  }

  /** Run `body` with the benchmark's listeners detached. */
  private def untraced(body: => Unit): Unit = {
    spark.sparkContext.removeSparkListener(tracer)
    spark.listenerManager.unregister(tracer)
    try body finally {
      spark.sparkContext.addSparkListener(tracer)
      spark.listenerManager.register(tracer)
    }
  }

  // ----------------------------------------------------------------- stream

  private lazy val cap = a("cap")
  private lazy val parts = a("partitions").toInt
  private var streamSeq = 0

  /** Start the streaming composition, cut after `cut`: `source`, `parse`,
    * `state` into a noop sink, or `full` into a kafkalog output log.
    */
  private def startStream(cut: String): (StreamingQuery, String) = {
    val s = spark
    import s.implicits._
    streamSeq += 1
    val ck = s"$work/ck/q-$streamSeq"
    val path = s"$work/out/log-$streamSeq"
    val src = spark.readStream.format("kafkalog").option("maxOffsetsPerTrigger", cap).load(input)
    lazy val parsed = StreamingIngest.parseKafkaShaped(src)
    lazy val updates = StreamingIngest.latestWinsUpdatesTws(parsed.as[StreamingIngest.KeyedRecord])
    val df = cut match {
      case "source" => src
      case "parse" => parsed
      case "state" => updates.toDF()
      case "full" => updates.select((col("id") % parts).cast("int").as("partition"),
        col("version").as("offset"),
        to_json(struct(col("id"), col("msg"), col("version"))).as("value"))
    }
    val w = df.writeStream.option("checkpointLocation", ck)
    val q = if (cut == "full") w.format("kafkalog").option("path", path).start()
      else w.format("noop").start()
    (q, path)
  }

  /** Start the cut and time it until it has drained what the log holds. */
  private def startDrained(cut: String, tag: String): (StreamingQuery, String, Double) = {
    var started: (StreamingQuery, String) = null
    val wall = timed(tag) { started = startStream(cut); started._1.processAllAvailable() }
    (started._1, started._2, wall)
  }

  /** Drain what the log holds with one query, then stop it. */
  private def drain(cut: String, phase: String, tag: String): Unit = {
    val (q, path, wall) = startDrained(cut, tag)
    finish(q, phase, cut, tag, wall, path)
  }

  private def finish(q: StreamingQuery, phase: String, cut: String, tag: String,
      wall: Double, path: String, extra: (String, Any)*): Unit = {
    q.stop()
    q.exception.foreach(e => throw e)
    record(Seq("phase" -> phase, "cut" -> cut, "tag" -> tag, "wall_s" -> wall,
      "output" -> (if (cut == "full") path else ""),
      "progress" -> q.recentProgress.map(_.json).toSeq.asJava) ++ extra: _*)
  }

  /** Tell `run.py` that `step` may start and wait until it is done. */
  private def handOver(step: String): Unit = {
    println(s"${step}_READY")
    Console.out.flush()
    val line = scala.io.StdIn.readLine()
    require(line == s"${step}_DONE", s"expected ${step}_DONE, got '$line'")
  }

  /** The full pipeline on a live log: drain the backlog, then drain a burst
    * `run.py` publishes at once, then follow the open-loop live tail.
    */
  private def live(phase: String, tag: String): Unit = {
    val (q, path, wall) = startDrained("full", tag)
    handOver("BURST")
    q.processAllAvailable()
    handOver("TAIL")
    q.processAllAvailable()
    finish(q, phase, "full", tag, wall, path, "live" -> true)
  }

  /** Untraced: the live query alone, cold.  Traced: first a cold full drain
    * of the backlog, each shorter cut, and an untraced full drain; the live
    * query's backlog drain is then the warm, traced `full` cut.
    */
  private def stream(): Unit =
    if (!trace) live("first", "first")
    else {
      drain("full", "first", "first")
      for (cut <- Seq("source", "parse", "state")) drain(cut, "layer", s"$cut#0")
      untraced(drain("full", "overhead_untraced", "untraced#0"))
      live("layer", "full#0")
    }
}

/** The benchmark's own listeners: per-task metrics tagged with the layer cut
  * that ran them, job and stage counts, and each query's planning phases and
  * scanned file bytes.  Jobs carry their tag as a local property; a query is
  * tagged by the timed window its planning started in.
  */
class Tracer extends SparkListener with QueryExecutionListener {
  import Tracer._

  private val stageTag = new java.util.concurrent.ConcurrentHashMap[Int, String]()
  private val tasks = new java.util.concurrent.ConcurrentLinkedQueue[java.util.Map[String, Any]]()
  private val jobs = new java.util.concurrent.ConcurrentLinkedQueue[java.util.Map[String, Any]]()
  private val queries = new java.util.concurrent.ConcurrentLinkedQueue[java.util.Map[String, Any]]()
  private val started = new java.util.concurrent.atomic.AtomicLong()
  private val ended = new java.util.concurrent.atomic.AtomicLong()
  private val windows = mutable.ArrayBuffer[(String, Long, Long)]()
  private val compiles = mutable.Map[String, Long]()

  /** A timed section of the main thread and the codegen compiles in it. */
  def window(tag: String, fromMs: Long, toMs: Long, compiled: Long): Unit = {
    windows += ((tag, fromMs, toMs))
    compiles(tag) = compiled
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    started.incrementAndGet()
    val tag = Option(e.properties).flatMap(p => Option(p.getProperty(TagKey))).getOrElse("")
    e.stageIds.foreach(s => stageTag.put(s, tag))
    jobs.add(Map[String, Any]("tag" -> tag, "job" -> e.jobId).asJava)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = ended.incrementAndGet()

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    jobs.add(Map[String, Any]("tag" -> stageTag.getOrDefault(e.stageInfo.stageId, ""),
      "stage_completed" -> e.stageInfo.stageId).asJava)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m == null) return
    tasks.add(Map[String, Any](
      "tag" -> stageTag.getOrDefault(e.stageId, ""),
      "bytes_read" -> m.inputMetrics.bytesRead,
      "records_read" -> m.inputMetrics.recordsRead,
      "shuffle_write_bytes" -> m.shuffleWriteMetrics.bytesWritten,
      "shuffle_write_records" -> m.shuffleWriteMetrics.recordsWritten,
      "shuffle_read_bytes" -> m.shuffleReadMetrics.totalBytesRead,
      "spill_disk_bytes" -> m.diskBytesSpilled,
      "peak_exec_mem" -> m.peakExecutionMemory,
      "output_bytes" -> m.outputMetrics.bytesWritten,
      "output_records" -> m.outputMetrics.recordsWritten).asJava)
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val phases = qe.tracker.phases
    val filesSize = Plans.collect(qe.executedPlan) {
      case p if p.metrics.contains("filesSize") => p.metrics("filesSize").value
    }.sum
    queries.add((Map[String, Any](
      "start_ms" -> phases.values.map(_.startTimeMs).minOption.getOrElse(0L),
      "files_size" -> filesSize) ++ phases.map { case (k, v) => k -> v.durationMs }).asJava)
  }

  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()

  /** Wait until the listener bus has delivered every job end. */
  def drain(): Unit = {
    val deadline = System.nanoTime() + TimeUnit.SECONDS.toNanos(20)
    while (ended.get() < started.get() && System.nanoTime() < deadline) Thread.sleep(20)
    Thread.sleep(500)
  }

  def dump(): java.util.Map[String, Any] = {
    val qs = queries.asScala.map { q =>
      val start = q.get("start_ms").asInstanceOf[Long]
      val m = new java.util.HashMap[String, Any](q)
      m.put("tag", windows.reverseIterator.find { case (_, a, b) => a <= start && start <= b }
        .map(_._1).getOrElse(""))
      m: java.util.Map[String, Any]
    }
    Map[String, Any]("tasks" -> tasks.asScala.toSeq.asJava, "jobs" -> jobs.asScala.toSeq.asJava,
      "queries" -> qs.toSeq.asJava, "compiles" -> compiles.toMap.asJava).asJava
  }
}

object Tracer {
  val TagKey = "perfbench.tag"
  private object Plans extends org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
}

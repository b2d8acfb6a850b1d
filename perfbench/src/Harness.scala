package perfbench

import java.io.{BufferedReader, InputStreamReader}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, Trigger}
import org.apache.spark.sql.types._

/** Engine side of the benchmark. It drives the program only through its
  * public entry points (`graft.config`, `graft.streaming.Sinks`,
  * `graft.SparkEntry.queries`, `graft.Tables`) and reports raw facts —
  * set-up times, per-batch progress, sink rows, query timings, spans —
  * as files in the work directory. `run.py` turns them into metrics.
  *
  * Usage: `Harness ingest|corpus <params file>`. Protocol lines on
  * stdout start with "@@ "; Spark logs go to stderr. */
object Harness {
  def main(args: Array[String]): Unit = {
    val p = new java.util.Properties()
    p.load(Files.newBufferedReader(Paths.get(args(1)), UTF_8))
    val params = p.asScala.toMap
    args(0) match {
      case "ingest" => new Ingest(params).run()
      case "corpus" => new Corpus(params).run()
    }
    System.exit(0)
  }

  def say(s: String): Unit = { println("@@ " + s); System.out.flush() }

  /** The engine as every workload runs it: `local[cpus]` with shuffle
    * width = cpus, as the repo's own bench sets it up. */
  def session(p: Map[String, String]): SparkSession = {
    val cpus = p("cpus").toInt
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", p("work") + "/spark-local")
      .config("spark.sql.warehouse.dir", p("work") + "/warehouse")
      .getOrCreate()
  }

  /** Peak resident set of this JVM (VmHWM), in kB. */
  def vmHwmKb(): Long =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toLong).getOrElse(0L)

  def write(path: String, lines: Iterable[String]): Unit =
    Files.write(Paths.get(path), lines.mkString("", "\n", "\n").getBytes(UTF_8))

  def ms(t0: Long): Double = (System.nanoTime() - t0) / 1e6
}

/** socket → spool → micro-batch → default-network-drivers → junction →
  * `file()` sink, compiled from config text. */
final class Ingest(p: Map[String, String]) {
  import Harness._

  private val work = p("work")
  private val tracer = new Tracer
  private val exec = new ExecRecorder(tracer)
  private val committed = new AtomicLong(0)
  private val batches = new ConcurrentLinkedQueue[String]()
  @volatile private var phase = "setup"
  @volatile private var traced = false

  /** Batch phases in the order MicroBatchExecution runs them; they are
    * laid out back to back as child spans of the batch. */
  private val batchPhases = Seq("latestOffset", "walCommit",
    "getBatch", "queryPlanning", "addBatch", "commitOffsets")

  private val progress = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val end = Tracer.nowUs()
      val pr = e.progress
      val t = java.time.Instant.parse(pr.timestamp)
      val start = t.getEpochSecond * 1000000L + t.getNano / 1000
      val dur = pr.durationMs.asScala.map { case (k, v) => k -> v.longValue }
      batches.add(Seq(phase, pr.batchId, start, end, pr.numInputRows,
        dur.map { case (k, v) => s"$k=$v" }.mkString(",")).mkString("\t"))
      if (traced) {
        val id = tracer.newId()
        tracer.record(id, 0, "streaming.batch", "streaming", start, end,
          Map("batch_id" -> pr.batchId, "rows" -> pr.numInputRows))
        var at = start
        batchPhases.foreach { k =>
          dur.get(k).foreach { d =>
            tracer.record(tracer.newId(), id, s"batch.$k", "streaming", at, at + d * 1000)
            at += d * 1000
          }
        }
      }
      committed.addAndGet(pr.numInputRows)
    }
  }

  def run(): Unit = {
    val setups = p("setups").toInt
    val conf = new String(Files.readAllBytes(Paths.get(p("config"))), UTF_8)
    val setupRows = Seq.newBuilder[String]
    var spark: SparkSession = null
    var query: StreamingQuery = null
    var listener: graft.streaming.SocketListener = null
    var dir = ""
    for (i <- 0 until setups) {
      dir = s"$work/setup-$i"
      committed.set(0)
      val setupId = tracer.newId()
      val t0 = System.nanoTime()
      val s0 = Tracer.nowUs()
      spark = tracer.span("spark.session_start", "spark-exec", setupId)(_ => session(p))
      spark.streams.addListener(progress)
      val tp = System.nanoTime()
      val cfg = tracer.span("config.parse", "config", setupId)(_ =>
        graft.config.ConfigParser.parse(conf))
      val parseMs = ms(tp)
      val tc = System.nanoTime()
      val (routes, listeners) = tracer.span("config.compile", "config", setupId)(_ =>
        graft.config.ConfigCompiler.compileStreamingPipeline(cfg, spark, s"$dir/spool"))
      val compileMs = ms(tc)
      require(routes.size == 1 && listeners.size == 1,
        s"expected one route and one listener, got ${routes.size} and ${listeners.size}")
      val route = routes.head
      listener = listeners.values.head
      query = tracer.span("streaming.sink_start", "streaming", setupId) { _ =>
        // `program` is the partition column `ConfigCompiler.startFileRoute`
        // derives from the `$PROGRAM` path template of pipeline.conf
        graft.streaming.Sinks.foreachBatchPartitioned(route.df.toDF(), s"$dir/out",
            Seq("program"), s"$dir/cp")
          .trigger(Trigger.ProcessingTime(0L))
          .start()
      }
      tracer.span("streaming.warmup", "streaming", setupId) { _ =>
        deliver(listener.boundPort, p(s"warmup.$i"))
      }
      val secs = (System.nanoTime() - t0) / 1e9
      tracer.record(setupId, 0, "setup", "harness", s0, Tracer.nowUs(), Map("setup" -> i))
      setupRows += Seq(i, secs, parseMs, compileMs).mkString("\t")
      if (i < setups - 1) {
        query.stop(); listener.stop()
        spark.streams.removeListener(progress)
        spark.stop()
      }
    }
    val base = committed.get()
    val baseReceived = listener.receivedCount
    say(s"READY ${listener.boundPort} ${dir}")
    val in = new BufferedReader(new InputStreamReader(System.in, UTF_8))
    var phaseId = 0L
    var phaseStart = 0L
    var rssKb = 0L
    var line = in.readLine()
    while (line != null && line != "EXIT") {
      val w = line.trim.split(" ")
      w(0) match {
        case "PHASE" =>
          phase = w(1)
          phaseId = tracer.newId()
          phaseStart = Tracer.nowUs()
          if (w(2) == "1") {
            spark.sparkContext.addSparkListener(exec)
            spark.listenerManager.register(exec)
            traced = true
          }
          say("GO")
        case "SENT" =>
          val target = base + w(1).toLong
          val backlog = (listener.receivedCount - baseReceived) - (committed.get() - base)
          var last = committed.get()
          var lastMove = System.nanoTime()
          // a message that never commits is a loss; stop waiting once
          // nothing has moved for 20 s
          while (committed.get() < target &&
              System.nanoTime() - lastMove < 20L * 1000 * 1000 * 1000) {
            Thread.sleep(2)
            val c = committed.get()
            if (c != last) { last = c; lastMove = System.nanoTime() }
          }
          say(s"COMMITTED ${committed.get() - base} ${listener.receivedCount - baseReceived} $backlog")
        case "END" =>
          if (traced) {
            spark.sparkContext.removeSparkListener(exec)
            spark.listenerManager.unregister(exec)
            traced = false
          }
          tracer.record(phaseId, 0, s"phase.$phase", "harness", phaseStart, Tracer.nowUs())
          if (rssKb == 0) rssKb = vmHwmKb()
          say("ENDED")
      }
      line = in.readLine()
    }
    tracer.span("streaming.query_stop", "streaming", 0)(_ => query.stop())
    tracer.span("streaming.listener_stop", "streaming", 0)(_ => listener.stop())
    exportSink(spark, s"$dir/out")
    write(s"$work/batches.tsv", batches.asScala)
    write(s"$work/setup.tsv", setupRows.result())
    tracer.write(s"$work/spans.jsonl")
    say(s"DONE rss_kb=$rssKb")
    spark.stop()
  }

  /** Send one pre-rendered file of lines and wait until they commit. */
  private def deliver(port: Int, file: String): Unit = {
    val bytes = Files.readAllBytes(Paths.get(file))
    val n = bytes.count(_ == '\n')
    val target = committed.get() + n
    val sock = new java.net.Socket("127.0.0.1", port)
    try sock.getOutputStream.write(bytes) finally sock.close()
    val deadline = System.nanoTime() + 120L * 1000 * 1000 * 1000
    while (committed.get() < target && System.nanoTime() < deadline) Thread.sleep(2)
    require(committed.get() >= target, s"warm-up: ${committed.get()} of $target committed")
  }

  /** Every row the sink committed: seq, $PROGRAM partition, junction
    * route, vendor app, output file. */
  private def exportSink(spark: SparkSession, out: String): Unit = {
    val rows = spark.read.parquet(out)
      .select(regexp_extract(col("message"), "(?i)seq\\W{0,3}(\\d+)", 1),
        coalesce(col("program"), lit("\\N")), coalesce(col("route"), lit("\\N")),
        coalesce(col("__channel"), lit("\\N")), input_file_name())
      .collect()
    write(s"$work/sink.tsv", rows.map(_.toSeq.mkString("\t")))
  }
}

/** The LLM-corpus queries over a generated `documents` table. */
final class Corpus(p: Map[String, String]) {
  import Harness._

  private val work = p("work")
  private val tracer = new Tracer
  private val exec = new ExecRecorder(tracer)
  private val queries = p("queries").split(",").toSeq
  private val minPasses = p("min_passes").toInt
  private val timings = Seq.newBuilder[String]

  private object Census extends AdaptiveSparkPlanHelper {
    def apply(plan: SparkPlan): Map[String, Int] = {
      val names = collectWithSubqueries(plan) { case n => n.getClass.getSimpleName }
      Seq("ShuffleExchangeExec", "ReusedExchangeExec", "BroadcastExchangeExec")
        .map(k => k -> names.count(_ == k)).toMap
    }
  }

  def run(): Unit = {
    val setups = p("setups").toInt
    val docsDir = s"$work/docs"
    val warmDir = s"$work/warm"
    val setupRows = Seq.newBuilder[String]
    var spark: SparkSession = null
    for (i <- 0 until setups) {
      val setupId = tracer.newId()
      val t0 = System.nanoTime()
      val s0 = Tracer.nowUs()
      spark = tracer.span("spark.session_start", "spark-exec", setupId)(_ => session(p))
      // turning the generated JSON into parquet is input generation,
      // not set-up: it is timed and left out of the set-up time
      val tg = System.nanoTime()
      if (i == 0) {
        toParquet(spark, p("docs_json"), docsDir, Long.MaxValue)
        toParquet(spark, p("docs_json"), warmDir, p("warm_docs").toLong)
      }
      val genNs = System.nanoTime() - tg
      tracer.span("corpus.warmup", "harness", setupId) { _ =>
        queries.foreach(q => graft.SparkEntry.queries(q)(spark, warmDir).collect())
      }
      val secs = (System.nanoTime() - t0 - genNs) / 1e9
      tracer.record(setupId, 0, "setup", "harness", s0, Tracer.nowUs(), Map("setup" -> i))
      setupRows += Seq(i, secs).mkString("\t")
      if (i < setups - 1) spark.stop()
    }
    say("READY")
    val seconds = p("seconds").toDouble
    val rssKb = runPhase(spark, "untraced", traced = false, seconds, docsDir)
    // the traced phase sits between two untraced ones, so run.py can
    // tell tracing cost from JVM warm-up
    if (p("trace") == "1") {
      runPhase(spark, "traced", traced = true, seconds, docsDir)
      runPhase(spark, "untraced_after", traced = false, seconds, docsDir)
    }
    write(s"$work/passes.tsv", timings.result())
    write(s"$work/setup.tsv", setupRows.result())
    tracer.write(s"$work/spans.jsonl")
    say(s"DONE rss_kb=$rssKb")
    spark.stop()
  }

  private def toParquet(spark: SparkSession, json: String, dir: String, limit: Long): Unit = {
    val schema = StructType(Seq(StructField("doc_id", LongType),
      StructField("text", StringType), StructField("lang", StringType),
      StructField("source", StringType), StructField("n_chars", LongType)))
    val df = spark.read.schema(schema).json(json)
    (if (limit == Long.MaxValue) df else df.filter(col("doc_id") < limit))
      .coalesce(1).write.parquet(s"$dir/documents.parquet")
  }

  /** Passes over the query set until `seconds` have gone by and at
    * least `minPasses` are done, so a median pass exists. Each query
    * is built (the registry call), planned (forcing `executedPlan`) and
    * run to completion (collecting every output column). Returns the
    * JVM's peak RSS at the end of the phase. */
  private def runPhase(spark: SparkSession, phase: String, traced: Boolean,
      seconds: Double, docsDir: String): Long = {
    val sc = spark.sparkContext
    if (traced) { sc.addSparkListener(exec); spark.listenerManager.register(exec) }
    val phaseId = tracer.newId()
    val p0 = Tracer.nowUs()
    val t0 = System.nanoTime()
    var pass = 0
    while (pass < minPasses || (System.nanoTime() - t0) / 1e9 < seconds) {
      val passId = tracer.newId()
      val ps = Tracer.nowUs()
      queries.foreach { q =>
        val qId = tracer.newId()
        val qs = Tracer.nowUs()
        def step[T](name: String)(body: => T): (T, Double) = tracer.span(name, "pipeline", qId) { id =>
          if (traced) sc.setJobGroup(id.toString, s"$q $name")
          val t = System.nanoTime()
          try (body, ms(t)) finally if (traced) sc.clearJobGroup()
        }
        try {
          val (df, buildMs) = step("query.build")(graft.SparkEntry.queries(q)(spark, docsDir))
          val (_, planMs) = step("query.plan")(df.queryExecution.executedPlan)
          val (rows, runMs) = step("query.run")(df.collect())
          val census = Census(df.queryExecution.executedPlan)
          tracer.record(qId, passId, s"q.$q", "pipeline", qs, Tracer.nowUs(),
            Map("rows_out" -> rows.length) ++ census)
          timings += Seq(phase, pass, q, buildMs, planMs, runMs, rows.length).mkString("\t")
          if (pass == 0 && phase == "untraced")
            write(s"$work/out-$q.tsv", rows.map(_.toSeq.mkString("\t")))
        } catch {
          // a query that throws is a failed execution, not a failed run
          case NonFatal(e) =>
            System.err.println(s"query $q failed: $e")
            timings += Seq(phase, pass, q, 0, 0, 0, -1).mkString("\t")
        }
      }
      tracer.record(passId, phaseId, "pass", "harness", ps, Tracer.nowUs(), Map("pass" -> pass))
      pass += 1
    }
    if (traced) {
      val tl = System.nanoTime()
      val docs = tracer.span("tables.load", "Tables", phaseId)(_ =>
        graft.Tables.load(spark, docsDir, "documents"))
      val loadMs = ms(tl)
      timings += Seq(phase, -1, "tables.load", loadMs, 0, 0, docs.rdd.getNumPartitions)
        .mkString("\t")
      sc.removeSparkListener(exec); spark.listenerManager.unregister(exec)
    }
    tracer.record(phaseId, 0, s"phase.$phase", "harness", p0, Tracer.nowUs())
    vmHwmKb()
  }
}

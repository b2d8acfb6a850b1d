package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** In-memory span recorder. A span is one call into a layer: name,
  * layer, start/end (epoch microseconds), parent span id and numeric
  * attributes. Spans stay in memory and are written as JSON lines when
  * the run ends. Parent 0 means "no parent"; job and stage spans carry
  * their attribution (job group, streaming batch id) as attributes and
  * are linked to their parents when the file is analysed. */
final class Tracer {
  private val spans = new ConcurrentLinkedQueue[String]()
  private val ids = new AtomicLong(0)

  def newId(): Long = ids.incrementAndGet()

  def record(id: Long, parent: Long, name: String, layer: String,
      startUs: Long, endUs: Long, attrs: Map[String, Any] = Map.empty): Unit = {
    val sb = new StringBuilder
    sb.append("{\"id\":").append(id).append(",\"parent\":").append(parent)
      .append(",\"name\":").append(Tracer.quote(name))
      .append(",\"layer\":").append(Tracer.quote(layer))
      .append(",\"start_us\":").append(startUs)
      .append(",\"end_us\":").append(endUs)
    attrs.foreach { case (k, v) =>
      sb.append(',').append(Tracer.quote(k)).append(':').append(v match {
        case s: String => Tracer.quote(s)
        case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
        case x => x.toString
      })
    }
    spans.add(sb.append('}').toString)
  }

  /** Time `body` as a span; `body` receives the span's id. */
  def span[T](name: String, layer: String, parent: Long)(body: Long => T): T = {
    val id = newId()
    val t0 = Tracer.nowUs()
    try body(id) finally record(id, parent, name, layer, t0, Tracer.nowUs())
  }

  def write(path: String): Unit =
    Files.write(Paths.get(path), spans.asScala.mkString("", "\n", "\n").getBytes(UTF_8))
}

object Tracer {
  def nowUs(): Long = {
    val i = java.time.Instant.now()
    i.getEpochSecond * 1000000L + i.getNano / 1000
  }

  def quote(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"').toString
  }
}

/** Spark-side spans for the traced run: one span per job and per stage
  * through the public SparkListener, and one per query execution
  * through QueryExecutionListener. A job span records the job group
  * (the harness sets it to the id of the span that caused the job) and
  * the streaming batch id, so each job and stage is attributed to the
  * call that caused it. */
final class ExecRecorder(tracer: Tracer) extends SparkListener
    with QueryExecutionListener {

  private final class StageAgg {
    var tasks = 0L; var runMs = 0L; var cpuNs = 0L; var gcMs = 0L
    var shuffleRead = 0L; var shuffleWrite = 0L; var spill = 0L
    var schedDelayMs = 0L; var inputBytes = 0L
    val runTimes = new scala.collection.mutable.ArrayBuffer[Long]
  }
  private val stageAgg = new ConcurrentHashMap[Int, StageAgg]()
  private val stageJob = new ConcurrentHashMap[Int, Long]()
  private val jobSpan = new ConcurrentHashMap[Int, (Long, Long, String, String)]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val p = e.properties
    val group = Option(p).flatMap(x => Option(x.getProperty("spark.jobGroup.id"))).getOrElse("")
    val batch = Option(p).flatMap(x => Option(x.getProperty("streaming.sql.batchId"))).getOrElse("")
    val id = tracer.newId()
    jobSpan.put(e.jobId, (id, e.time * 1000, group, batch))
    e.stageIds.foreach(s => stageJob.putIfAbsent(s, id))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobSpan.remove(e.jobId)).foreach { case (id, startUs, group, batch) =>
      tracer.record(id, 0, "job", "spark-exec", startUs, e.time * 1000,
        Map("job_group" -> group, "batch_id" -> batch, "job_id" -> e.jobId,
          "ok" -> (if (e.jobResult == JobSucceeded) 1 else 0)))
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) {
      val a = stageAgg.computeIfAbsent(e.stageId, _ => new StageAgg)
      a.synchronized {
        a.tasks += 1
        a.runMs += m.executorRunTime
        a.cpuNs += m.executorCpuTime
        a.gcMs += m.jvmGCTime
        a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        a.inputBytes += m.inputMetrics.bytesRead
        val info = e.taskInfo
        a.schedDelayMs += math.max(0L, info.duration - m.executorDeserializeTime -
          m.executorRunTime - m.resultSerializationTime - info.gettingResultTime)
        a.runTimes += m.executorRunTime
      }
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val s = e.stageInfo
    val a = Option(stageAgg.remove(s.stageId)).getOrElse(new StageAgg)
    val sorted = a.runTimes.sorted
    val median = if (sorted.isEmpty) 0L else sorted(sorted.length / 2)
    val skew = if (sorted.isEmpty) 1.0 else sorted.last.toDouble / math.max(1L, median)
    val start = s.submissionTime.getOrElse(0L) * 1000
    val end = s.completionTime.getOrElse(0L) * 1000
    tracer.record(tracer.newId(), 0, "stage", "spark-exec", start, end,
      Map("stage_id" -> s.stageId, "job_span" -> Option(stageJob.get(s.stageId)).getOrElse(0L),
        "tasks" -> a.tasks, "run_ms" -> a.runMs, "cpu_ms" -> a.cpuNs / 1e6,
        "gc_ms" -> a.gcMs, "shuffle_read_bytes" -> a.shuffleRead,
        "shuffle_write_bytes" -> a.shuffleWrite, "spill_bytes" -> a.spill,
        "input_bytes" -> a.inputBytes, "sched_delay_ms" -> a.schedDelayMs,
        "task_max_ms" -> (if (sorted.isEmpty) 0L else sorted.last),
        "task_median_ms" -> median, "skew" -> skew,
        "ok" -> (if (s.failureReason.isEmpty) 1 else 0)))
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val end = Tracer.nowUs()
    tracer.record(tracer.newId(), 0, s"qe.$funcName", "spark-exec",
      end - durationNs / 1000, end)
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = {
    val end = Tracer.nowUs()
    tracer.record(tracer.newId(), 0, s"qe.$funcName", "spark-exec", end, end,
      Map("ok" -> 0))
  }
}

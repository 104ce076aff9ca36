package perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer

import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property
import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Minimal JSON rendering for the harness's output files. */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case other => str(other.toString)
  }
}

/** In-memory span recorder. One closed-loop client means one thread opens
  * spans, so a plain stack gives each span its parent. Spans are kept in
  * memory and written once, when the run ends. */
final class Tracer(val enabled: Boolean) {
  private val lines = ArrayBuffer.empty[String]
  private var nextId = 0L
  private var stack: List[Long] = Nil
  /** The op the spans opened now belong to (-1: set-up, -2: probes). */
  var opId: Long = -1L

  def span[A](name: String)(body: => A): A =
    if (!enabled) body
    else {
      nextId += 1
      val id = nextId
      val parent = stack.headOption.getOrElse(0L)
      stack = id :: stack
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack = stack.tail
        lines += Json(Map("id" -> id, "parent" -> parent, "op" -> opId,
          "name" -> name, "start_ns" -> t0, "end_ns" -> t1))
      }
    }

  def write(path: String): Unit = {
    val w = new java.io.PrintWriter(path, "UTF-8")
    try lines.foreach(w.println) finally w.close()
  }
}

/** Spark task/stage/job counters for one op, summed by a listener. */
final class SparkStats extends SparkListener {
  val jobs, stages, tasks = new AtomicLong
  val runMs, cpuNs, gcMs, inputBytes = new AtomicLong
  val shuffleWrite, shuffleRead, fetchWaitMs, spill = new AtomicLong
  private val taskMs = ArrayBuffer.empty[Long]

  override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    stages.incrementAndGet()
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    Option(e.taskInfo).foreach(i => taskMs.synchronized(taskMs += i.duration))
    Option(e.taskMetrics).foreach { m =>
      runMs.addAndGet(m.executorRunTime)
      cpuNs.addAndGet(m.executorCpuTime)
      gcMs.addAndGet(m.jvmGCTime)
      inputBytes.addAndGet(m.inputMetrics.bytesRead)
      shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      fetchWaitMs.addAndGet(m.shuffleReadMetrics.fetchWaitTime)
      spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }

  /** Counters since the last snapshot, then reset. */
  def snapshot(): Map[String, Double] = {
    val durations = taskMs.synchronized {
      val d = taskMs.toArray.sorted; taskMs.clear(); d
    }
    val skew =
      if (durations.length < 2) 1.0
      else {
        val med = durations(durations.length / 2).toDouble
        durations.last / math.max(med, 1.0)
      }
    val out = Map(
      "spark.jobs" -> jobs.getAndSet(0).toDouble,
      "spark.stages" -> stages.getAndSet(0).toDouble,
      "spark.tasks" -> tasks.getAndSet(0).toDouble,
      "spark.run_s" -> runMs.getAndSet(0) / 1e3,
      "spark.cpu_s" -> cpuNs.getAndSet(0) / 1e9,
      "spark.gc_s" -> gcMs.getAndSet(0) / 1e3,
      "spark.input_bytes" -> inputBytes.getAndSet(0).toDouble,
      "spark.shuffle_write_bytes" -> shuffleWrite.getAndSet(0).toDouble,
      "spark.shuffle_read_bytes" -> shuffleRead.getAndSet(0).toDouble,
      "spark.fetch_wait_s" -> fetchWaitMs.getAndSet(0) / 1e3,
      "spark.spill_bytes" -> spill.getAndSet(0).toDouble,
      "spark.task_skew" -> skew)
    out + ("spark.cpu_util" ->
      (if (out("spark.run_s") > 0) out("spark.cpu_s") / out("spark.run_s") else 0.0))
  }
}

/** Micro-batch phase durations (`StreamingQueryProgress.durationMs`). */
final class StreamStats extends StreamingQueryListener {
  private val sums = scala.collection.mutable.Map.empty[String, Double]
  private var batches = 0L
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    synchronized {
      val d = e.progress.durationMs
      if (d.containsKey("addBatch")) batches += 1
      d.forEach((k, v) => sums(k) = sums.getOrElse(k, 0.0) + v.longValue / 1e3)
    }
  def snapshot(): Map[String, Double] = synchronized {
    def s(k: String) = sums.getOrElse(k, 0.0)
    val out = Map(
      "stream.add_batch_s" -> s("addBatch"),
      "stream.query_planning_s" -> s("queryPlanning"),
      "stream.wal_commit_s" -> s("walCommit"),
      "stream.latest_offset_s" -> s("latestOffset"),
      "stream.trigger_s" -> s("triggerExecution"),
      "stream.batches" -> batches.toDouble)
    sums.clear(); batches = 0
    out
  }
}

/** Counts CodeGenerator compile errors: each one means a stage or an
  * expression silently fell back to interpreted execution. */
final class CodegenCounter extends AbstractAppender(
    "perfbench-codegen", null, null, true, Property.EMPTY_ARRAY) {
  val errors = new AtomicLong
  override def append(e: LogEvent): Unit =
    if (e.getLevel.isMoreSpecificThan(Level.ERROR) &&
        e.getLoggerName.endsWith("codegen.CodeGenerator")) errors.incrementAndGet()
}

object CodegenCounter {
  def attach(): CodegenCounter = {
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val c = new CodegenCounter
    c.start()
    ctx.getConfiguration.addAppender(c)
    ctx.getConfiguration.getRootLogger.addAppender(c, null, null)
    ctx.updateLoggers()
    c
  }
}

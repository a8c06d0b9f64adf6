package graftbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicLong, DoubleAdder}
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.graftbench.SparkInternals
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval of the harness, around a call into a layer. */
final case class Span(id: Int, parent: Int, name: String, op: String,
    startNs: Long, endNs: Long, startMs: Long, endMs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** Span recorder. Spans live in memory and are written out once, when the
  * run ends. With tracing off, or outside the measured window
  * ([[active]]), [[span]] only runs its body. Spans are recorded from the
  * thread that runs the workload; their parent is the span open on
  * that thread when they start. */
final class Tracer(val on: Boolean) {
  var active = false
  private val done = ArrayBuffer.empty[Span]
  private val stack = scala.collection.mutable.Stack.empty[Int]
  private var nextId = 0

  def span[T](name: String, op: String = "")(body: => T): T =
    if (!on || !active) body
    else {
      val id = { nextId += 1; nextId }
      val parent = stack.headOption.getOrElse(0)
      stack.push(id)
      val (s0, m0) = (System.nanoTime(), System.currentTimeMillis())
      try body
      finally {
        stack.pop()
        done += Span(id, parent, name, op, s0, System.nanoTime(), m0,
          System.currentTimeMillis())
      }
    }

  def spans: Seq[Span] = done.toSeq

  /** Self time per span name: duration minus the part covered by the
    * span's children. */
  def selfMs: Map[String, Double] = {
    val childMs = done.groupBy(_.parent).view.mapValues(_.map(_.ms).sum).toMap
    done.groupBy(_.name).view.mapValues(_.map(s =>
      s.ms - childMs.getOrElse(s.id, 0.0)).sum).toMap
  }

  def toJson: String = done.map { s =>
    s"""{"id":${s.id},"parent":${s.parent},"name":"${s.name}","op":"${s.op}",""" +
      s""""start_ms":${s.startMs},"end_ms":${s.endMs},"dur_ms":${"%.3f".format(s.ms)}}"""
  }.mkString("[\n", ",\n", "\n]\n")
}

/** Spark-side counters for the traced run: scheduler, task, shuffle,
  * scan and write metrics from the listener bus, Catalyst phase times
  * from each finished query execution, the duration of every file-write
  * command (the workload's own sinks and the store loops' generation and
  * compaction writes alike), and whole-stage codegen compiles
  * (count and time) from the code generator. All fields are cumulative;
  * a window's value is the difference of two [[snapshot]]s. */
final class Counters(spark: SparkSession) extends SparkListener
    with QueryExecutionListener {
  private val c = new ConcurrentHashMap[String, DoubleAdder]()
  private def add(k: String, v: Double): Unit =
    c.computeIfAbsent(k, _ => new DoubleAdder).add(v)
  private val shuffleIds = ConcurrentHashMap.newKeySet[Int]()
  /** Job start times (epoch ms), to attribute jobs to spans. */
  val jobStarts = new java.util.concurrent.ConcurrentLinkedQueue[Long]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    add("sched.jobs", 1); jobStarts.add(e.time)
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    add("sched.stages", 1)
    SparkInternals.shuffleDepId(e.stageInfo).foreach(shuffleIds.add(_))
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    add("sched.tasks", 1)
    val m = e.taskMetrics
    if (m != null) {
      val dur = e.taskInfo.duration.toDouble
      add("sched.task_overhead_ms", math.max(0.0, dur - m.executorRunTime))
      add("task.run_ms", m.executorRunTime.toDouble)
      add("task.cpu_ms", m.executorCpuTime / 1e6)
      add("task.gc_ms", m.jvmGCTime.toDouble)
      add("shuffle.write_mb", m.shuffleWriteMetrics.bytesWritten / 1e6)
      add("shuffle.write_ms", m.shuffleWriteMetrics.writeTime / 1e6)
      add("shuffle.read_mb", m.shuffleReadMetrics.totalBytesRead / 1e6)
      add("shuffle.fetch_wait_ms", m.shuffleReadMetrics.fetchWaitTime.toDouble)
      add("shuffle.spill_mb", (m.memoryBytesSpilled + m.diskBytesSpilled) / 1e6)
      add("tables.input_mb", m.inputMetrics.bytesRead / 1e6)
      add("tables.input_records", m.inputMetrics.recordsRead.toDouble)
      add("sink.output_mb", m.outputMetrics.bytesWritten / 1e6)
    }
  }

  override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = {
    phases(qe)
    if (isWrite(f, qe)) add("sink.write_ms", ns / 1e6)
  }
  /** V1 file writes run as a data-writing command, V2 writes under their
    * own execution names. */
  private def isWrite(f: String, qe: QueryExecution): Boolean =
    qe.logical.isInstanceOf[org.apache.spark.sql.execution.command.DataWritingCommand] ||
      Set("append", "overwrite", "overwritePartitions", "create", "replace")(f)
  override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = phases(qe)
  private def phases(qe: QueryExecution): Unit = {
    add("plans.query_executions", 1)
    qe.tracker.phases.foreach { case (phase, s) =>
      val key = phase match {
        case "analysis" => "plans.analysis_ms"
        case "optimization" => "plans.optimizer_ms"
        case "planning" => "plans.planning_ms"
        case _ => null
      }
      if (key != null) add(key, (s.endTimeMs - s.startTimeMs).toDouble)
    }
  }

  private val compileMs = new DoubleAdder
  private val compiles = new AtomicLong
  private val codegenLogger =
    "org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator"
  /** Whole-stage codegen compile times come from the code generator's own
    * "Code generated in <t> ms" record, captured by an appender on that
    * one logger (not forwarded to the console). */
  private def installCodegenAppender(): Unit = {
    import org.apache.logging.log4j.LogManager
    import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.{LoggerConfig, Property}
    val pat = "Code generated in ([0-9.]+) ms".r.unanchored
    val app = new AbstractAppender("graftbench-codegen", null, null, true,
        Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        e.getMessage.getFormattedMessage match {
          case pat(t) => compiles.incrementAndGet(); compileMs.add(t.toDouble)
          case _ =>
        }
    }
    app.start()
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val cfg = ctx.getConfiguration
    val lc = new LoggerConfig(codegenLogger,
      org.apache.logging.log4j.Level.INFO, false)
    lc.addAppender(app, org.apache.logging.log4j.Level.INFO, null)
    cfg.addLogger(codegenLogger, lc)
    ctx.updateLoggers()
  }

  def install(): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
    installCodegenAppender()
  }

  def snapshot(): Map[String, Double] = {
    SparkInternals.drainListenerBus(spark.sparkContext)
    c.asScala.map { case (k, v) => k -> v.sum }.toMap ++ Map(
      "shuffle.exec_count" -> shuffleIds.size.toDouble,
      "codegen.compiles" -> compiles.get.toDouble,
      "codegen.compile_ms" -> compileMs.sum)
  }

  /** Jobs whose start falls inside one of `spans`. */
  def jobsIn(spans: Seq[Span]): Int = {
    val starts = jobStarts.asScala.toSeq
    starts.count(t => spans.exists(s => t >= s.startMs && t <= s.endMs))
  }
}

package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicLong, DoubleAdder}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.logging.log4j.LogManager
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** A span: one timed call into a layer. Spans of one request share `req`. */
final case class Span(id: Long, parent: Long, req: String, name: String,
  startNs: Long, endNs: Long)

/** Outside-in recorder for the traced run. It never touches the program:
  * spans come from the harness's own calls, and the engine's work is
  * observed through listeners the harness registers on the session.
  *
  * Every Spark job, stage, task and SQL execution is attributed to the
  * operation whose thread submitted it, through a thread-local job property
  * the harness sets before each call (Spark copies local properties into
  * every job, including the jobs of a streaming query started from that
  * thread). Listener callbacks all run on the listener bus's one thread. */
final class Recorder(spark: SparkSession) extends AdaptiveSparkPlanHelper {
  import Recorder._

  private val ids = new AtomicLong(0)
  private val spans = new java.util.concurrent.ConcurrentLinkedQueue[Span]()
  private val stack = new ThreadLocal[List[Long]] { override def initialValue = Nil }
  private val reqOf = new ThreadLocal[String] { override def initialValue = "" }

  /** Per-key counters; keys are `<scope>|<metric>`, scope an op key. */
  private val sums = new ConcurrentHashMap[String, DoubleAdder]()
  private val maxes = new ConcurrentHashMap[String, java.lang.Double]()

  def add(scope: String, metric: String, v: Double): Unit =
    sums.computeIfAbsent(s"$scope|$metric", _ => new DoubleAdder).add(v)

  def max(scope: String, metric: String, v: Double): Unit =
    maxes.merge(s"$scope|$metric", v, (a, b) => math.max(a, b))

  /** Begin a request: later spans and Spark work on this thread belong to
    * it under operation key `op` (workload-level scope, e.g. a batch job). */
  def request[A](req: String, op: String)(body: => A): A = {
    val (prevReq, prevOp) = (reqOf.get, spark.sparkContext.getLocalProperty(OpProp))
    reqOf.set(req)
    spark.sparkContext.setLocalProperty(OpProp, op)
    try body
    finally {
      reqOf.set(prevReq)
      spark.sparkContext.setLocalProperty(OpProp, prevOp)
    }
  }

  def span[A](name: String)(body: => A): A = {
    val id = ids.incrementAndGet()
    val parent = stack.get.headOption.getOrElse(0L)
    stack.set(id :: stack.get)
    val t0 = System.nanoTime()
    try body
    finally {
      spans.add(Span(id, parent, reqOf.get, name, t0, System.nanoTime()))
      stack.set(stack.get.tail)
    }
  }

  // ------------------------------------------------------------ Spark
  private val stageOp = new ConcurrentHashMap[Int, String]()
  private val execOp = new ConcurrentHashMap[Long, String]()
  private val opFirstJobMs = new ConcurrentHashMap[String, java.lang.Long]()
  private val stageTaskMs = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]
  private val blockMem = new ConcurrentHashMap[String, java.lang.Long]()
  private val cachedNow = new AtomicLong(0)

  /** Wall-clock start of each request op, for `first_job_ms`. */
  private val opStartMs = new ConcurrentHashMap[String, java.lang.Long]()
  def markIssued(op: String): Unit = opStartMs.put(op, System.currentTimeMillis())
  def firstJobMs(op: String): Option[Double] =
    Option(opFirstJobMs.get(op)).flatMap(j =>
      Option(opStartMs.get(op)).map(s => (j - s).toDouble))

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val props = Option(e.properties)
      val op = props.flatMap(p => Option(p.getProperty(OpProp))).getOrElse(Unscoped)
      // a write command's jobs run in a nested execution; map its root too
      for (p <- props.toSeq; k <- Seq("spark.sql.execution.id", "spark.sql.execution.root.id");
           x <- Option(p.getProperty(k))) execOp.putIfAbsent(x.toLong, op)
      e.stageIds.foreach(stageOp.put(_, op))
      opFirstJobMs.putIfAbsent(op, e.time)
      add(op, "jobs", 1)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val si = e.stageInfo
      val op = stageOp.getOrDefault(si.stageId, Unscoped)
      add(op, "stages", 1)
      val tm = si.taskMetrics
      if (tm != null) {
        add(op, "task_run_s", tm.executorRunTime / 1e3)
        add(op, "task_cpu_s", tm.executorCpuTime / 1e9)
        add(op, "gc_s", tm.jvmGCTime / 1e3)
        add(op, "shuffle_write_mb", tm.shuffleWriteMetrics.bytesWritten / MB)
        add(op, "shuffle_read_mb", tm.shuffleReadMetrics.totalBytesRead / MB)
        add(op, "spill_mb", (tm.memoryBytesSpilled + tm.diskBytesSpilled) / MB)
        add(op, "input_mb", tm.inputMetrics.bytesRead / MB)
        add(op, "output_mb", tm.outputMetrics.bytesWritten / MB)
      }
      stageTaskMs.remove(si.stageId).filter(_.size >= 2).foreach { ts =>
        val sorted = ts.sorted
        val med = sorted(sorted.size / 2).max(1L)
        max(op, "task_skew", sorted.last.toDouble / med)
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val op = stageOp.getOrDefault(e.stageId, Unscoped)
      add(op, "tasks", 1)
      if (e.taskInfo != null)
        stageTaskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty[Long]) +=
          e.taskInfo.duration
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case p: StreamingQueryListener.QueryProgressEvent => onProgress(p.progress)
      case x: SparkListenerSQLExecutionEnd => onExecutionEnd(x)
      case _ => ()
    }
    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
      val info = e.blockUpdatedInfo
      if (info.blockId.isRDD) {
        val key = s"${info.blockManagerId.executorId}/${info.blockId.name}"
        val size = info.memSize + info.diskSize
        val prev = Option(if (size > 0) blockMem.put(key, size) else blockMem.remove(key))
          .map(_.longValue).getOrElse(0L)
        val now = cachedNow.addAndGet(size - prev)
        max(Global, "cached_mb_peak", now / MB)
      }
    }
  }

  /** A finished SQL execution: its planning time and the file scans of
    * its physical plan, under the operation whose thread ran it. This is the event that drives QueryExecutionListener;
    * it is read here because it also carries the execution id that ties
    * it to the operation. Its QueryExecution field is package-private in
    * Spark, hence the reflective read. */
  private def onExecutionEnd(e: SparkListenerSQLExecutionEnd): Unit = {
    val op = Option(execOp.get(e.executionId)).getOrElse(Unscoped)
    add(op, "executions", 1)
    val qe = scala.util.Try(e.getClass.getMethod("qe").invoke(e).asInstanceOf[QueryExecution])
      .toOption.flatMap(Option(_))
    qe.foreach { qe =>
      add(op, "plan_ms", qe.tracker.phases.values.map(_.durationMs).sum.toDouble)
      scans(qe).foreach { case (files, parts, present) =>
        add(op, "read_scans", 1)
        add(op, "read_files", files)
        add(op, "read_partitions", parts)
        add(op, "present_partitions", present)
      }
    }
  }

  /** (files read, partitions read, partitions present) per file scan of a
    * finished execution; partition counts only for partitioned scans. */
  private def scans(qe: QueryExecution): Seq[(Double, Double, Double)] =
    try collectWithSubqueries(qe.executedPlan) {
      case s: FileSourceScanExec if s.relation.partitionSchema.nonEmpty ||
        s.metrics.contains("numFiles") =>
        val m = s.metrics
        def v(k: String) = m.get(k).map(_.value.toDouble).getOrElse(0.0)
        val present = s.relation.location match {
          case l: org.apache.spark.sql.execution.datasources.PartitioningAwareFileIndex =>
            l.partitionSpec().partitions.size.toDouble
          case _ => 0.0
        }
        (v("numFiles"), v("numPartitions"), present)
    } catch { case _: Throwable => Nil }

  /** Streaming progress. Observed on the shared listener bus rather than
    * through one session's `streams` manager, so queries that operators run
    * on cloned sessions are counted too. */
  private def onProgress(p: org.apache.spark.sql.streaming.StreamingQueryProgress): Unit = {
    val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue.toDouble }
    add(Streaming, "triggers", 1)
    add(Streaming, "trigger_ms", d.getOrElse("triggerExecution", 0.0))
    add(Streaming, "addbatch_ms", d.getOrElse("addBatch", 0.0))
    add(Streaming, "walcommit_ms", d.getOrElse("walCommit", 0.0) + d.getOrElse("commitOffsets", 0.0))
    add(Streaming, "planning_ms", d.getOrElse("queryPlanning", 0.0))
    add(Streaming, "input_rows", p.numInputRows.toDouble)
    val st = p.stateOperators
    max(Streaming, "state_rows", st.map(_.numRowsTotal).sum.toDouble)
    max(Streaming, "state_mem_mb", st.map(_.memoryUsedBytes).sum / MB)
    if (p.processedRowsPerSecond > 0 && !p.processedRowsPerSecond.isNaN)
      max(Streaming, "rows_per_s", p.processedRowsPerSecond)
  }

  // ------------------------------------------------- codegen fallbacks
  /** Counts fallback log lines, attributed to the operation whose task or
    * driver thread logged them. */
  private val codegenAppender = new AbstractAppender("perfbench-codegen",
    null, null, true, Property.EMPTY_ARRAY) {
    override def append(e: LogEvent): Unit = {
      val msg = Option(e.getMessage).map(_.getFormattedMessage).getOrElse("")
      if (CodegenMarkers.exists(msg.toLowerCase.contains)) {
        val op = Option(org.apache.spark.TaskContext.get())
          .flatMap(t => Option(t.getLocalProperty(OpProp)))
          .orElse(Option(spark.sparkContext.getLocalProperty(OpProp)))
          .orElse(currentOp).getOrElse(Unscoped)
        add(op, "codegen_fallbacks", 1)
      }
    }
  }
  /** The operation a single-threaded workload is running, for log lines
    * written on threads that carry no job property. */
  @volatile var currentOp: Option[String] = None

  /** Janino compile time, read from Spark's own codegen metrics source. */
  private def compileMs: Double = {
    val h = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
    h.getSnapshot.getValues.sum.toDouble
  }
  private var compileAtStart = 0.0
  def codegenCompileMs: Double = compileMs - compileAtStart

  def install(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    codegenAppender.start()
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val cfg = ctx.getConfiguration
    cfg.addAppender(codegenAppender)
    cfg.getRootLogger.addAppender(codegenAppender, null, null)
    ctx.updateLoggers()
    compileAtStart = compileMs
  }

  def uninstall(): Unit = {
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    ctx.getConfiguration.getRootLogger.removeAppender(codegenAppender.getName)
    ctx.updateLoggers()
    spark.sparkContext.removeSparkListener(sparkListener)
  }

  def allSpans: Seq[Span] = spans.asScala.toSeq

  /** Counters as scope → metric → value. */
  def counters: Map[String, Map[String, Double]] = {
    val out = mutable.Map.empty[String, mutable.Map[String, Double]]
    def put(k: String, v: Double): Unit = {
      val i = k.indexOf('|')
      out.getOrElseUpdate(k.substring(0, i), mutable.Map.empty)(k.substring(i + 1)) = v
    }
    sums.asScala.foreach { case (k, v) => put(k, v.sum) }
    maxes.asScala.foreach { case (k, v) => put(k, v.doubleValue) }
    out.map { case (k, v) => k -> v.toMap }.toMap
  }
}

object Recorder {
  val OpProp = "perfbench.op"
  val Unscoped = "unscoped"
  val Global = "global"
  val Streaming = "streaming"
  private val MB = 1024.0 * 1024.0
  /** Log lines Spark writes when generated code fails to compile and it
    * falls back to interpreted evaluation or to non-whole-stage execution. */
  val CodegenMarkers = Seq("falling back to interpreter mode",
    "whole-stage codegen disabled", "failed to compile")
}

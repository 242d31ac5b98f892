package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** One measured operation as the harness saw it from outside. */
final case class Op(kind: String, id: String, startMs: Double, ms: Double,
  ok: Boolean, err: String = "")

/** What a workload hands back: its timed operations and the
  * workload-specific values (`extra`) the checks and metrics need. */
final case class Outcome(ops: Seq[Op], extra: Map[String, Any])

/** Harness entry point, launched by `run.py` with the generated inputs:
  *
  * {{{ perfbench.Main <workload> <inputDir> <workDir> <outFile> <seconds> <trace> <threads> }}}
  *
  * It builds the session, runs the workload's set-up and its timed loop,
  * and writes everything it measured as one JSON document to `outFile`.
  * Metrics and correctness checks are computed from that file by
  * `run.py`, so this side only measures and records. */
object Main {
  /** Monotonic ms since the JVM started, the zero of every `startMs`. */
  val t0Ns: Long = System.nanoTime() - {
    val up = java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime
    up * 1000000L
  }
  def nowMs: Double = (System.nanoTime() - t0Ns) / 1e6

  def main(args: Array[String]): Unit = {
    val Array(workload, inputDir, workDir, outFile, secondsS, traceS, threadsS) = args
    val seconds = secondsS.toDouble
    val threads = threadsS.toInt
    val setup = mutable.LinkedHashMap.empty[String, Double]
    val t = System.nanoTime()
    val spark = graft.Graft.session(master = s"local[$threads]",
      appName = s"perfbench-$workload", shufflePartitions = threads)
    spark.sparkContext.setLogLevel("WARN")
    setup("session_s") = (System.nanoTime() - t) / 1e9
    val rec = if (traceS == "1") {
      val r = new Recorder(spark); r.install(); Some(r)
    } else None
    val ctx = Ctx(spark, rec, Paths.get(inputDir), Paths.get(workDir), seconds,
      threads, setup)
    val outcome = workload match {
      case "serving" => Serving.run(ctx)
      case "batch" => Batch.run(ctx)
      case "calibrate" => Batch.calibrate(ctx)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    // listener events are delivered asynchronously; let the bus drain
    rec.foreach { _ => Thread.sleep(1500) }
    val doc = Map(
      "workload" -> workload,
      "setup" -> setup.toMap,
      "first_op_ms" -> outcome.ops.headOption.map(_.startMs).getOrElse(nowMs),
      "ops" -> outcome.ops.map(o => Map("kind" -> o.kind, "id" -> o.id,
        "start_ms" -> o.startMs, "ms" -> o.ms, "ok" -> o.ok, "err" -> o.err)),
      "extra" -> outcome.extra,
      "peak_rss_mb" -> peakRssMb,
      "trace" -> rec.map { r =>
        Map("counters" -> r.counters,
          "codegen_compile_ms" -> r.codegenCompileMs,
          "spans" -> r.allSpans.map(s => Seq(s.id, s.parent, s.req, s.name,
            (s.startNs - t0Ns) / 1e6, (s.endNs - t0Ns) / 1e6)))
      }.orNull)
    Files.write(Paths.get(outFile), Json(doc).getBytes(UTF_8))
    rec.foreach(_.uninstall())
    spark.stop()
  }

  /** The JVM's resident-set high-water mark (VmHWM), in MB. */
  def peakRssMb: Double = {
    val status = Paths.get("/proc/self/status")
    if (!Files.exists(status)) -1.0
    else Files.readAllLines(status).toArray.map(_.toString)
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(-1.0)
  }
}

/** What every workload gets from [[Main]]. */
final case class Ctx(spark: SparkSession, rec: Option[Recorder], input: Path,
  work: Path, seconds: Double, threads: Int,
  setup: mutable.Map[String, Double]) {

  /** Time one set-up phase into `setup(name)`, in seconds. */
  def timed[A](name: String)(body: => A): A = {
    val t = System.nanoTime()
    try body finally setup(name) = (System.nanoTime() - t) / 1e9
  }

  /** A span around `body` in the traced run; just `body` otherwise. */
  def span[A](name: String)(body: => A): A =
    rec.fold(body)(_.span(name)(body))

  def request[A](req: String, op: String)(body: => A): A =
    rec.fold(body)(_.request(req, op)(body))

  def lines(name: String): Seq[String] =
    scala.io.Source.fromFile(input.resolve(name).toFile, "UTF-8")
      .getLines().filter(_.nonEmpty).toSeq
}

/** Minimal JSON writer for the result document. */
object Json {
  def apply(v: Any): String = {
    val sb = new StringBuilder
    write(v, sb)
    sb.toString
  }
  private def write(v: Any, sb: StringBuilder): Unit = v match {
    case null | None => sb ++= "null"
    case Some(x) => write(x, sb)
    case s: String => str(s, sb)
    case b: Boolean => sb ++= b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) sb ++= "null" else sb ++= d.toString
    case f: Float => write(f.toDouble, sb)
    case n: Int => sb ++= n.toString
    case n: Long => sb ++= n.toString
    case n: Short => sb ++= n.toString
    case n: Byte => sb ++= n.toString
    case n: java.math.BigDecimal => sb ++= n.toPlainString
    case n: BigDecimal => sb ++= n.bigDecimal.toPlainString
    case n: java.lang.Number => sb ++= n.toString
    case m: scala.collection.Map[_, _] =>
      sb += '{'
      var first = true
      m.foreach { case (k, x) =>
        if (!first) sb += ','
        first = false
        str(k.toString, sb); sb += ':'; write(x, sb)
      }
      sb += '}'
    case a: Array[_] => write(a.toSeq, sb)
    case it: Iterable[_] =>
      sb += '['
      var first = true
      it.foreach { x => if (!first) sb += ','; first = false; write(x, sb) }
      sb += ']'
    case other => str(other.toString, sb)
  }
  private def str(s: String, sb: StringBuilder): Unit = {
    sb += '"'
    s.foreach {
      case '"' => sb ++= "\\\""
      case '\\' => sb ++= "\\\\"
      case '\n' => sb ++= "\\n"
      case '\r' => sb ++= "\\r"
      case '\t' => sb ++= "\\t"
      case c if c < ' ' => sb ++= f"\\u${c.toInt}%04x"
      case c => sb += c
    }
    sb += '"'
  }
}

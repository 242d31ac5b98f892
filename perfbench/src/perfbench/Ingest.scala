package perfbench

import java.nio.file.{Files, Path, StandardCopyOption}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The reference's write path in closed-loop rounds, one writer beside one
  * reader. Each round a datalogger batch lands (line protocol, or a set of
  * pulse CSVs), is parsed, split into good points and quarantine, upserted
  * into the `flow` measurement, and drained by a continuous query into the
  * hourly rollup `flow_hourly`. A round's latency runs from the landing of
  * its file until raw and rollup reads both return its points. Every few
  * rounds the writer compacts and enforces the row-budget retention. The
  * reader sends dashboard statements over both measurements through the
  * store's own InfluxQL path.
  *
  * Inputs (from `run.py`): `base.parquet` (the preloaded history),
  * `rounds.tsv` (round, format, path), `reader.tsv` (measurement,
  * statement) and `params.tsv` (key, value). */
final class IngestLoad(ctx: Ctx, g: graft.Graft) {
  import IngestLoad._
  private val spark = ctx.spark
  private val params = ctx.lines("params.tsv").map(_.split("\t")).map(a => a(0) -> a(1)).toMap
  private val rounds = ctx.lines("rounds.tsv").map(_.split("\t")).map(a => (a(0).toInt, a(1), a(2)))
  private val reads = ctx.lines("reader.tsv").map(_.split("\t", 2)).map(a => (a(0), a(1)))
  private val work = ctx.work.resolve("ingest")
  private val store = g.store(work.resolve("store").toString)
  private val reg = g.cqRegistry(work.resolve("cq").toString, params("watermark_lag"))
  reg.create(CqStatement)
  private val base = spark.read.parquet(ctx.input.resolve("base.parquet").toString)
  private val stream = source(work.resolve("cq_src"))

  val ops = new ConcurrentLinkedQueue[Op]()
  private val roundInfo = Seq.newBuilder[Map[String, Any]]
  private val dropped = Seq.newBuilder[Seq[Any]]
  private val compactions = Seq.newBuilder[Map[String, Any]]
  private val conflicts = new AtomicLong(0)
  @volatile private var roundsDone = 0

  private def source(dir: Path): DataFrame = {
    Files.createDirectories(dir)
    spark.readStream.schema(base.schema).parquet(dir.toString)
  }

  def load(): Unit = store.append("flow", base)

  /** One round through every step on a scratch store and continuous query,
    * parsing the first file of each format, so parsers, the upsert, the
    * drain and the reads are compiled before timing. */
  def warm(): Unit = {
    val wstore = g.store(work.resolve("warm_store").toString)
    val wreg = g.cqRegistry(work.resolve("warm_cq").toString, params("watermark_lag"))
    wreg.create(CqStatement)
    val wsrc = work.resolve("warm_cq_src")
    val wstream = source(wsrc)
    wstore.append("flow", base.limit(1000))
    val good = rounds.groupBy(_._2).values.map(_.head).map { case (_, f, rel) =>
      val src = ctx.input.resolve(rel)
      val dst = work.resolve("warm_landing").resolve(src.getFileName)
      copy(src, dst)
      val (good, bad) = parse(f, dst.toString)
      bad.count()
      good
    }.reduce(_ unionByName _)
    wstore.upsert("flow", good.withColumn("__v", lit(-1L)), Keys, "__v", dropVersion = true)
    good.write.mode("append").parquet(wsrc.toString)
    wreg.runIntoStore("cq_hourly", wstream, wstore)
    reads.groupBy(_._1).values.map(_.head)
      .foreach { case (m, q) => wstore.influxql(m, q).collect() }
  }

  /** Parse one landed round into (good wide points, bad raw lines). */
  private def parse(format: String, path: String): (DataFrame, DataFrame) = format match {
    case "lp" =>
      val parsed = graft.ingest.LineProtocol.parseLines(
        spark.read.text(path).withColumnRenamed("value", "line"))
      val good = graft.ingest.LineProtocol.toMeasurement(parsed, "flow", Seq("site", "meter"))
        .select(col("time"), col("site"), col("meter"), col("pulses"))
      (good, parsed.filter(col("is_bad")).select(col("line").as("raw")))
    case "csv" =>
      val files = spark.read.option("wholetext", "true").text(path)
        .withColumn("src_file", input_file_name())
      val parsed = graft.ingest.CsvIngest.parsePulseText(files)
      val good = parsed.filter(!col("is_bad") && col("measurement") === "RawData")
        .select(col("time"), col("siteID").as("site"), col("meterID").as("meter"),
          col("pulses").cast("double").as("pulses"))
      (good, parsed.filter(col("is_bad")).select(col("row").as("raw")))
  }

  /** Land, parse, quarantine, upsert and drain one round; returns the
    * numbers the round's checks and metrics need. */
  private def round(i: Int, format: String, rel: String): Map[String, Any] = {
    val src = ctx.input.resolve(rel)
    val landed = work.resolve("landing").resolve(src.getFileName)
    val landedBytes = copy(src, landed)
    val t = Main.nowMs
    val (good, bad, nGood, nBad) = ctx.span("ingest.parse") {
      val (good, bad) = parse(format, landed.toString)
      val g = good.cache()
      (g, bad, g.count(), bad.count())
    }
    def phase[A](name: String)(body: => A): A =
      ctx.request(s"w$i", s"round:$i/$name")(ctx.span(name)(body))
    try {
      phase("ingest.quarantine")(
        bad.write.mode("append").parquet(work.resolve("quarantine").toString))
      val (upsertDays, upsertBytes) = written(phase("store.upsert")(store.upsert("flow",
        good.withColumn("__v", lit(i.toLong)), Keys, "__v", dropVersion = true)))
      phase("cq.land")(good.write.mode("append").parquet(work.resolve("cq_src").toString))
      phase("streaming.cq_run")(reg.runIntoStore("cq_hourly", stream, store))
      val span = good.agg(min("time"), max("time")).head()
      val (lo, hi) = (span.getTimestamp(0), span.getTimestamp(1))
      val (raw, rolled) = phase("read") {
        val r = store.read("flow", col("time") >= lo && col("time") <= hi).count()
        val h = store.read("flow_hourly",
          col("time") >= date_trunc("hour", lit(lo)) && col("time") <= hi)
          .agg(sum("n")).head()
        (r, if (h.isNullAt(0)) 0L else h.getLong(0))
      }
      Map("round" -> i, "t" -> t, "ms" -> (Main.nowMs - t), "good" -> nGood, "bad" -> nBad,
        "bytes" -> landedBytes, "visible" -> (raw >= nGood && rolled >= nGood),
        "upsert_days" -> upsertDays, "upsert_bytes" -> upsertBytes)
    } finally good.unpersist()
  }

  /** Rounds until the deadline (at least one), with compaction and
    * retention every `compact_every` rounds. */
  def writer(deadline: Double): Unit = {
    val compactEvery = params("compact_every").toInt
    val retentionRows = params("retention_rows").toLong
    var k = 0
    while (k < rounds.size && (k == 0 || Main.nowMs < deadline)) {
      val (i, format, rel) = rounds(k)
      val t = Main.nowMs
      scala.util.Try(ctx.request(s"w$i", s"round:$i")(
        ctx.span("round")(round(i, format, rel)))) match {
        case scala.util.Success(m) =>
          roundInfo += m
          val visible = m("visible") == true
          ops.add(Op("round", i.toString, t, m("ms").asInstanceOf[Double], visible,
            if (visible) "" else "round not visible to raw and rollup reads"))
        case scala.util.Failure(e) =>
          ops.add(Op("round", i.toString, t, Main.nowMs - t, ok = false, e.toString))
      }
      k += 1
      roundsDone = k
      if (k % compactEvery == 0) {
        val tc = Main.nowMs
        val (rewritten, bytes) = written(ctx.request(s"m$k", s"maint:$k/compact")(
          ctx.span("store.compact")(store.compact("flow"))))
        compactions += Map("after_round" -> k, "ms" -> (Main.nowMs - tc),
          "rewritten_days" -> rewritten, "rewritten_bytes" -> bytes)
        val tr = Main.nowMs
        val days = ctx.request(s"m$k", s"maint:$k/retention")(
          ctx.span("store.retention")(store.enforceRetention("flow", retentionRows)))
        dropped += Seq(k, days, Main.nowMs - tr)
      }
    }
  }

  /** Closed-loop reads of `flow` and `flow_hourly` while `running`, from
    * the first finished round on (the rollup exists from then). A read
    * that lists a day partition while the writer swaps its files fails
    * ([[IngestLoad.isReadConflict]]); the reader retries it up to twice and
    * counts every conflict, so the store's missing read isolation shows as
    * a number instead of ending the run. */
  def reader(running: () => Boolean): Unit = {
    while (running() && roundsDone == 0) Thread.sleep(20)
    var i = 0
    while (running()) {
      val (m, q) = reads(i % reads.size)
      val t = Main.nowMs
      def attempt(left: Int): scala.util.Try[Unit] =
        scala.util.Try(ctx.request(s"r$i", s"read:$i") {
          ctx.span("read.statement")(store.influxql(m, q).collect())
          ()
        }).recoverWith {
          case e if left > 0 && isReadConflict(e) =>
            conflicts.incrementAndGet()
            attempt(left - 1)
        }
      val res = attempt(2)
      ops.add(Op("read", s"$m-${i % reads.size}", t, Main.nowMs - t,
        res.isSuccess, res.failed.map(_.toString).getOrElse("")))
      i += 1
    }
  }

  private def flowFiles: Map[java.io.File, Long] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) Option(f.listFiles).toSeq.flatten.flatMap(walk) else Seq(f)
    walk(work.resolve("store").resolve("flow").toFile)
      .filter(_.getName.endsWith(".parquet")).map(f => f -> f.length).toMap
  }

  /** Day partitions and bytes a store call wrote into `flow`, read from the
    * files it left behind that were not there before (traced run only). */
  private def written(body: => Any): (Int, Long) =
    if (ctx.rec.isEmpty) { body; (0, 0L) }
    else {
      val before = flowFiles
      body
      val fresh = flowFiles -- before.keySet
      (fresh.keys.map(_.getParent).toSet.size, fresh.values.sum)
    }

  /** End state for the DuckDB check, and the storage it occupies. */
  def finish(): Map[String, Any] = {
    val flowDir = work.resolve("store").resolve("flow").toFile
    val files = dayFiles(flowDir)
    store.read("flow").drop("day").coalesce(1).write.parquet(work.resolve("final_flow").toString)
    store.read("flow_hourly").drop("day").coalesce(1)
      .write.parquet(work.resolve("final_hourly").toString)
    Map(
      "rounds" -> roundInfo.result(),
      "retention" -> dropped.result(),
      "compactions" -> compactions.result(),
      "store_bytes" -> du(flowDir),
      "live_points" -> store.read("flow").count(),
      "store_files" -> files.values.sum,
      "files_per_partition_max" -> (if (files.isEmpty) 0 else files.values.max),
      "final_flow" -> "ingest/final_flow",
      "final_hourly" -> "ingest/final_hourly",
      "read_conflicts" -> conflicts.get)
  }
}

object IngestLoad {
  val Keys = Seq("time", "site", "meter")
  val CqStatement = "CREATE CONTINUOUS QUERY cq_hourly ON ciwsdb BEGIN " +
    "SELECT count(pulses) AS n, sum(pulses) AS total INTO flow_hourly " +
    "FROM flow GROUP BY time(1h), site END"

  /** A read that found a file gone that its listing had named: Spark
    * reports it as FILE_NOT_EXIST from a scan, or as a FileNotFoundException
    * from the parallel footer read of schema inference, in the message of
    * the exception or of one of its causes. */
  def isReadConflict(e: Throwable): Boolean =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).take(10).exists { t =>
      t.isInstanceOf[java.io.FileNotFoundException] || {
        val m = String.valueOf(t.getMessage)
        m.contains("FILE_NOT_EXIST") || m.contains("FileNotFoundException")
      }
    }

  private def copy(src: Path, dst: Path): Long = {
    Files.createDirectories(dst.getParent)
    if (Files.isDirectory(src)) {
      Files.createDirectories(dst)
      Files.list(src).toArray.map(_.asInstanceOf[Path]).map { f =>
        Files.copy(f, dst.resolve(f.getFileName), StandardCopyOption.REPLACE_EXISTING)
        Files.size(f)
      }.sum
    } else {
      Files.copy(src, dst, StandardCopyOption.REPLACE_EXISTING)
      Files.size(src)
    }
  }

  /** Bytes of the parquet files under `dir`. */
  private def du(dir: java.io.File): Long =
    if (!dir.exists) 0L
    else if (dir.isFile) { if (dir.getName.endsWith(".parquet")) dir.length else 0L }
    else dir.listFiles.map(du).sum

  /** Parquet files per `day=` partition of a measurement directory. */
  private def dayFiles(dir: java.io.File): Map[String, Int] =
    Option(dir.listFiles).toSeq.flatten.filter(d => d.isDirectory && d.getName.startsWith("day="))
      .map(d => d.getName -> d.listFiles.count(_.getName.endsWith(".parquet"))).toMap
}

package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.LongAdder

import org.apache.spark.sql.{DataFrame, Row}

/** Closed-loop InfluxQL serving: each client sends statements through
  * `catalog.admin.run`, the registry-tracked path a serving layer calls per
  * request, and sends its next statement only when the previous reply has
  * arrived, as a Grafana panel or the hot-intake job does.
  *
  * Inputs (from `run.py`): `events.parquet` and `alerts.parquet` (the two
  * measurements), `statements.tsv` (id, template, statement), and
  * `client<i>.txt`, the seeded statement order of client i. The first
  * reply to every distinct statement goes to `results.jsonl` for the
  * DuckDB check; later replies must equal it. */
final class DashboardLoad(ctx: Ctx, g: graft.Graft) {
  import DashboardLoad._
  private val stmts = ctx.lines("statements.tsv").map(_.split("\t", 3))
    .map(a => a(0) -> (a(1), a(2))).toMap
  private val results = new ConcurrentHashMap[String, Seq[Seq[Any]]]()
  private val resultLines = new ConcurrentLinkedQueue[String]()
  val ops = new ConcurrentLinkedQueue[Op]()
  private val statements = new LongAdder
  private val errors = new LongAdder
  private val firstJob = new ConcurrentLinkedQueue[Double]()

  def load(): Unit = {
    g.statement(s"CREATE DATABASE $Db")
    val store = g.store(ctx.work.resolve("dashboard").resolve("store").toString)
    for (m <- Seq("events", "alerts")) {
      store.append(m, ctx.spark.read.parquet(ctx.input.resolve(s"$m.parquet").toString))
      g.register(Db, m, store.read(m).drop("day"))
    }
  }

  /** The first statement of every template, split over `clients` threads,
    * so parser, codegen and file listings are warm before timing, as on a
    * long-running server. */
  def warm(clients: Int): Unit = {
    val first = stmts.toSeq.groupBy(_._2._1).values.map(_.minBy(_._1)).toSeq.sortBy(_._1)
    val ts = (0 until clients).map(c => new Thread(() =>
      first.zipWithIndex.filter(_._2 % clients == c).foreach { case ((id, (_, q)), _) =>
        once(s"warm-$id", q)
      }))
    ts.foreach(_.start())
    ts.foreach(_.join())
  }

  /** Client `c`: its statement order, in a closed loop, while `running`. */
  def client(c: Int, running: () => Boolean): Unit = {
    val order = ctx.lines(s"client$c.txt")
    var i = 0
    while (running()) {
      val id = order(i % order.size)
      val t = Main.nowMs
      val res = scala.util.Try(once(s"c$c-$i", stmts(id)._2))
      val ms = Main.nowMs - t
      ops.add(res match {
        case scala.util.Success((cols, rows)) =>
          val norm = Results.normalize(rows)
          val prev = results.putIfAbsent(id, norm)
          if (prev == null) {
            resultLines.add(Json(Map("id" -> id, "columns" -> cols, "rows" -> rows)))
            Op("stmt", id, t, ms, ok = true)
          } else if (Results.same(prev, norm)) Op("stmt", id, t, ms, ok = true)
          else Op("stmt", id, t, ms, ok = false, "reply differs from its first run")
        case scala.util.Failure(e) => Op("stmt", id, t, ms, ok = false, e.toString)
      })
      i += 1
    }
  }

  /** One request through the serving path. Untraced it is exactly
    * `catalog.admin.run` + collect; traced, the same path is split at its
    * public seams (parse, catalog build, physical planning, tracked run). */
  private def once(req: String, q: String): (Seq[String], Seq[Seq[Any]]) =
    ctx.rec match {
      case None =>
        collect(g.catalog.admin.run(g.catalog, q))
      case Some(r) =>
        val op = s"stmt:$req"
        r.request(req, op) {
          r.markIssued(op)
          statements.increment()
          try r.span("statement") {
            if (q.trim.toUpperCase.startsWith("SELECT"))
              r.span("influxql.parse")(graft.influxql.InfluxQL.parse(q))
            val df = r.span("influxql.translate")(g.catalog.statement(q))
            r.span("spark.plan")(df.queryExecution.executedPlan)
            r.span("execute")(collect(g.catalog.admin.runFrame(q, Db, df)))
          } catch { case e: Throwable => errors.increment(); throw e }
          finally r.firstJobMs(op).foreach(firstJob.add)
        }
    }

  private def collect(df: DataFrame): (Seq[String], Seq[Seq[Any]]) =
    (df.columns.toSeq, df.collect().toSeq.map(Results.row))

  def finish(): Map[String, Any] = {
    Files.write(ctx.work.resolve("results.jsonl"),
      resultLines.toArray.mkString("", "\n", "\n").getBytes(UTF_8))
    Map("results_file" -> "results.jsonl") ++ ctx.rec.map(_ => Map(
      "first_job_ms" -> firstJob.toArray.toSeq,
      "statements" -> statements.sum,
      "errors" -> errors.sum)).getOrElse(Map.empty)
  }
}

object DashboardLoad {
  val Db = "ciwsdb"
}

/** Result rows in a JSON-friendly, engine-neutral form: timestamps as
  * epoch microseconds, decimals as doubles, nested values as lists. */
object Results {
  def row(r: Row): Seq[Any] = r.toSeq.map(value)

  def value(v: Any): Any = v match {
    case t: java.sql.Timestamp =>
      t.getTime / 1000 * 1000000L + (t.getNanos / 1000) % 1000000L
    case t: java.time.Instant => t.getEpochSecond * 1000000L + t.getNano / 1000
    case t: java.time.LocalDateTime =>
      val i = t.toInstant(java.time.ZoneOffset.UTC)
      i.getEpochSecond * 1000000L + i.getNano / 1000
    case d: java.sql.Date => d.toString
    case d: java.math.BigDecimal => d.doubleValue
    case s: scala.collection.Seq[_] => s.map(value)
    case r: Row => row(r)
    case m: scala.collection.Map[_, _] => m.map { case (k, x) => k.toString -> value(x) }
    case other => other
  }

  /** Rows in a canonical order, for comparing two replies to one statement. */
  def normalize(rows: Seq[Seq[Any]]): Seq[Seq[Any]] =
    rows.sortBy(_.map(x => String.valueOf(x)).mkString("\u0001"))

  /** Equal up to 1e-9 relative difference on floating-point values. */
  def same(a: Seq[Seq[Any]], b: Seq[Seq[Any]]): Boolean =
    a.size == b.size && a.zip(b).forall { case (x, y) =>
      x.size == y.size && x.zip(y).forall {
        case (p: Double, q: Double) =>
          p == q || (p.isNaN && q.isNaN) ||
            math.abs(p - q) <= 1e-9 * math.max(math.abs(p), math.abs(q))
        case (p, q) => p == q
      }
    }
}

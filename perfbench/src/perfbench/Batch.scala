package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{UnsafeProjection, XXH64}

/** One driver thread runs registered `SparkEntry.queries` jobs over the
  * generated fixture once each, in the order of `jobs.txt`: one pipeline
  * pass, in a fresh session, as a scheduled batch run executes.
  * (The pass is the measured window; it outlasts `--seconds` here.)
  *
  * Each job's rows are consumed whole by a digest sink: the physical plan
  * runs exactly as under a write, and every row is hashed into an
  * order-independent (rows, xxhash64-sum) digest that `run.py` compares
  * with the digest of the output it checked against DuckDB. Between jobs
  * the op caches are released, as `graft.Bench` does. */
object Batch {
  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val fixture = ctx.input.resolve("fixture").toString
    val order = ctx.lines("jobs.txt")
    val queries = graft.SparkEntry.queries
    ctx.timed("graft_s")(graft.functions.GraftFunctions.register(spark))
    val tables = ctx.timed("load_s") {
      graft.Tables.names.filter(n => new java.io.File(s"$fixture/$n.parquet").exists)
        .map(n => graft.Tables.load(spark, fixture, n))
    }
    // warm-up: a scan, hash aggregate, shuffle and window over every table
    // into the digest sink, so the first job does not also pay for the
    // session's generic code paths
    ctx.timed("warm_s") {
      tables.foreach(t => digest(t.selectExpr("pmod(hash(*), 16) AS k").groupBy("k").count()
        .selectExpr("k", "rank() OVER (ORDER BY count DESC) AS r")))
    }
    val ops = Seq.newBuilder[Op]
    val digests = Seq.newBuilder[Seq[Any]]
    val releaseMs = Seq.newBuilder[Double]
    order.zipWithIndex.foreach { case (name, i) =>
      ctx.rec.foreach(_.currentOp = Some(s"job:$name"))
      val t = Main.nowMs
      val res = scala.util.Try(ctx.request(s"$i-$name", s"job:$name") {
        ctx.span("job") {
          val df = ctx.span("build")(queries(name)(spark, fixture))
          ctx.span("spark.plan")(df.queryExecution.executedPlan)
          ctx.span("execute")(digest(df))
        }
      })
      val ms = Main.nowMs - t
      res match {
        case scala.util.Success((n, h)) =>
          ops += Op("job", name, t, ms, ok = true)
          digests += Seq(name, n, h.toString)
        case scala.util.Failure(e) =>
          ops += Op("job", name, t, ms, ok = false, e.toString)
      }
      val r0 = Main.nowMs
      ctx.span("opcaches.release") {
        graft.OpCaches.releaseAll()
        spark.catalog.clearCache()
      }
      releaseMs += Main.nowMs - r0
    }
    ctx.rec.foreach(_.currentOp = None)
    Outcome(ops.result(), Map(
      "digests" -> digests.result(),
      "release_ms" -> releaseMs.result(),
      "ivf_builds" -> graft.PerfbenchProbe.ivfBuilds,
      "band_index_builds" -> graft.PerfbenchProbe.bandIndexBuilds))
  }

  /** Run `df`'s physical plan and digest every output row. */
  def digest(df: DataFrame): (Long, Long) = {
    val schema = df.schema
    df.queryExecution.toRdd.mapPartitions { it =>
      val proj = UnsafeProjection.create(schema)
      var n = 0L
      var h = 0L
      it.foreach { r =>
        val u = proj(r)
        n += 1
        h += XXH64.hashUnsafeBytes(u.getBaseObject, u.getBaseOffset, u.getSizeInBytes, 42L)
      }
      Iterator((n, h))
    }.collect().foldLeft((0L, 0L)) { case ((a, b), (c, d)) => (a + c, b + d) }
  }

  /** Run each job once, write its output as parquet for the DuckDB check
    * and record the digest a timed run must reproduce. */
  def calibrate(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val fixture = ctx.input.resolve("fixture").toString
    val out = ctx.work.resolve("calib")
    val digests = ctx.lines("jobs.txt").distinct.map { name =>
      val df = graft.SparkEntry.queries(name)(spark, fixture).persist()
      try {
        val (n, h) = digest(df)
        df.write.mode("overwrite").parquet(out.resolve(name).toString)
        Seq(name, n, h.toString)
      } finally {
        df.unpersist(blocking = true)
        graft.OpCaches.releaseAll()
        spark.catalog.clearCache()
      }
    }
    Outcome(Nil, Map("digests" -> digests,
      "oracle_sql" -> ctx.lines("jobs.txt").distinct
        .flatMap(n => graft.SparkEntry.oracleSql.get(n).map(n -> _)).toMap))
  }
}

package perfbench

/** Serving and ingest side by side on one engine: two dashboard clients
  * ([[DashboardLoad]]) wait on InfluxQL replies while one writer lands,
  * stores and rolls up datalogger batches and one reader follows the
  * fresh data ([[IngestLoad]]). Four load threads, one `Graft`, one
  * session: a change that speeds reads at the expense of writes, or the
  * reverse, shows on the same run. */
object Serving {
  val Clients = 2

  def run(ctx: Ctx): Outcome = {
    val (g, dash, ingest) = ctx.timed("graft_s") {
      val g = graft.Graft(ctx.spark)
      (g, new DashboardLoad(ctx, g), new IngestLoad(ctx, g))
    }
    ctx.timed("load_s") { dash.load(); ingest.load() }
    ctx.timed("warm_s") {
      val w = new Thread(() => ingest.warm())
      w.start()
      dash.warm(Clients)
      w.join()
    }
    val deadline = Main.nowMs + ctx.seconds * 1000
    @volatile var writing = true
    // the clients and the reader run as long as the writer does, so every
    // round meets the same contention (the writer finishes its last round
    // after the deadline)
    val threads =
      (0 until Clients).map(c => new Thread(() => dash.client(c, () => writing), s"client-$c")) ++
        Seq(new Thread(() => { try ingest.writer(deadline) finally writing = false }, "writer"),
          new Thread(() => ingest.reader(() => writing), "reader"))
    threads.foreach(_.start())
    threads.foreach(_.join())
    val ops = (dash.ops.toArray(Array.empty[Op]) ++ ingest.ops.toArray(Array.empty[Op]))
      .toSeq.sortBy(_.startMs)
    Outcome(ops, dash.finish() ++ ingest.finish() ++ Map("clients" -> Clients))
  }
}

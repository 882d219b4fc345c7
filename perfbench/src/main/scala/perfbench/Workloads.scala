package perfbench

import graft.etl.GazetteerBuilder
import graft.query.{ForwardReq, Hit, ScoutEngine}
import graft.server.Json
import java.io.File
import org.apache.spark.sql.DataFrame

/** The two serving workloads. Each generates its inputs from the seed,
  * sets up (build, server launch, warm-up), measures HTTP latency at the
  * client for `seconds`, stops the server, then checks the answers
  * against the engine's own other paths, in-process and untimed. A traced run then
  * replays the requests in-process with spans ([[Layers]]). */
object Workloads {

  /** Open-loop arrival rate (requests/s) of `serve_point`: well below
    * what four keep-alive connections sustain on the fast paths, so the
    * queue stays short. (At 40/s the server's ~40 ms delayed-ACK stall
    * already hits more than 1 in 10 requests on four cores.) */
  val PointRate = 20.0
  /** Size of the bulk request a traced run probes. */
  val BulkTexts = 20
  /** Set-up requests the hot set this many times: the first pass fills
    * the driver caches, the rest bring the server's code to the JIT's
    * steady state, which a long-running server is in. */
  val PointWarmPasses = 20
  /** Reverse batches sent in set-up, one at a time, which the measured
    * loop then cycles through: in a fresh JVM a batch job's latency
    * falls by a third over its first dozen runs, as the JIT compiles
    * Spark's planning and scheduling paths (4-core VM). */
  val BatchWarm = 12
  val ReverseBatchPoints = 200
  /** One connection: each batch job runs alone, so its latency is its
    * service time, not how two jobs happened to overlap. */
  val BatchConns = 1

  /** `ScoutEngine.forward`'s default scan cap (`limitScan`). */
  val ForwardScanCap = 10000

  /** Point lists longer than this take `ScoutEngine.reverse`'s job path. */
  val FastReverseCutoff = 32

  def pct(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted.toIndexedSeq
      val pos = q * (s.size - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  def median(xs: Seq[Double]): Double = pct(xs, 0.5)

  def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** The raw table, generated and written once, untimed. */
  private def rawTable(ctx: Ctx, c: Corpus): DataFrame = {
    val dir = new File(ctx.work, "raw").getPath
    c.rawDF(ctx.spark).coalesce(1).write.mode("overwrite").parquet(dir)
    ctx.out.mark("raw_written")
    ctx.spark.read.parquet(dir)
  }

  private def describe(ctx: Ctx, c: Corpus, rq: Requests): Unit = {
    ctx.out.mark("inputs_generated")
    c.stats.foreach { case (k, v) => ctx.out.stat(s"corpus.$k", v) }
    ctx.out.stat("corpus.hot_set", rq.hot.size)
  }

  /** Build, launch, warm — the measured set-up. Returns the live server. */
  private def setup(ctx: Ctx, build: => String, warm: Seq[Req], warmConns: Int): Server = {
    val t0 = System.nanoTime()
    val path = ctx.tracer.span("etl.build")(build)
    val buildS = secs(t0)
    val t1 = System.nanoTime()
    val srv = Server.launch(ctx.spark, path)
    val readyS = secs(t1)
    val t2 = System.nanoTime()
    try {
      val w = Load.once(srv.port, warm, warmConns)
      if (w.exists(!_.ok)) throw new IllegalStateException(
        s"${w.count(!_.ok)} warm-up requests failed")
    } catch { case e: Throwable => srv.stop(); throw e }
    val warmS = secs(t2)
    ctx.out.mark("setup_done")
    ctx.out.metric("setup_s", buildS + readyS + warmS, "s")
    ctx.out.stat("setup.build_s", buildS)
    ctx.out.stat("setup.ready_s", readyS)
    ctx.out.stat("setup.warm_s", warmS)
    ctx.layers.setup(buildS, readyS)
    srv
  }

  /** Latency metrics over the measured samples, plus the generator's
    * own lateness. */
  private def report(ctx: Ctx, samples: Seq[Sample], ticks0: (Long, Long),
                     jvm0: (Double, Double, Double, Long)): Unit = {
    ctx.out.mark("measured")
    val ticks1 = Server.cpuTicks
    val jvm1 = Server.cpuAndGcMs
    ctx.out.stat("jvm.cpu_ms_per_request", (jvm1._1 - jvm0._1) / math.max(1, samples.size))
    ctx.out.stat("jvm.gc_ms", jvm1._2 - jvm0._2)
    ctx.out.stat("jvm.jit_ms", jvm1._3 - jvm0._3)
    ctx.out.stat("spark.codegen_compiles", jvm1._4 - jvm0._4)
    ctx.out.stat("box.steal_pct",
      100.0 * (ticks1._2 - ticks0._2) / math.max(1L, ticks1._1 - ticks0._1))
    val lat = samples.filter(_.ok).map(_.latencyMs)
    ctx.out.metric("p50_ms", median(lat), "ms")
    val peak = Server.peakRssMb
    ctx.out.stat("jvm.peak_rss_mb", peak)
    ctx.layers.carry("jvm.peak_rss_mb", peak, "MB")
    ctx.out.metric("live_mb", Server.liveHeapMb, "MB")
    ctx.out.stat("load.requests", samples.size)
    ctx.out.stat("load.late_p50_ms", median(samples.map(_.lateMs)))
    ctx.out.stat("load.late_p99_ms", pct(samples.map(_.lateMs), 0.99))
    ctx.out.stat("load.late_max_ms", samples.map(_.lateMs).maxOption.getOrElse(0.0))
    ctx.layers.carry("load.late_p99_ms", pct(samples.map(_.lateMs), 0.99), "ms")
    ctx.out.attempted += samples.size
    samples.filterNot(_.ok).foreach(s =>
      ctx.out.fail(if (s.resp.isEmpty) "no_response" else s"http_${s.resp.get.status}"))
  }

  private def byKind(ctx: Ctx, name: String, samples: Seq[Sample], ps: Double*): Unit = {
    val lat = samples.filter(_.ok).map(_.latencyMs)
    ctx.out.stat(s"$name.n", lat.size)
    ps.foreach(p => ctx.out.stat(f"$name.p${(p * 100).round}%d_ms", pct(lat, p)))
  }

  private def finish(ctx: Ctx): Unit = {
    ctx.out.metric("ok_frac",
      1.0 - ctx.out.failed.toDouble / math.max(1L, ctx.out.attempted), "ratio")
  }

  // ---- answer shapes, as comparable tuples -------------------------------

  type HitKey = (String, Double, Double, Option[String], Option[String],
    Option[String], Long, String, Double)

  def key(h: Hit, last: Double): HitKey =
    (h.name, h.lat, h.lon, h.country, h.state, h.city, h.osmId, h.kind, last)

  private def opt(v: Json.Value): Option[String] = v match {
    case Json.Str(s) => Some(s)
    case _ => None
  }
  private def key(o: Map[String, Json.Value], last: String): HitKey =
    (o("name").asStr, o("lat").asNum, o("lon").asNum, opt(o("country")),
      opt(o("state")), opt(o("city")), o("osm_id").asNum.toLong,
      o("kind").asStr, o(last).asNum)

  def forwardHits(body: String): Seq[HitKey] =
    Json.parse(body).asObj("hits").asArr.map(h => key(h.asObj, "score"))
  def reverseHits(body: String): Seq[Option[HitKey]] =
    Json.parse(body).asObj("results").asArr.map(r => r.asObj("hit") match {
      case Json.Null => None
      case h => Some(key(h.asObj, "dist_km"))
    })

  /** Distinct answers compared against the job path per run: each such
    * job costs ~0.2 s of the box's four cores, so a run checks a seeded
    * sample, and the seeds of repeated runs cover different ones. */
  val JobChecks = 4

  def sampled[A](ctx: Ctx, xs: Seq[A]): Seq[A] =
    new scala.util.Random(ctx.seed * 7 + 1).shuffle(xs).take(JobChecks)

  /** `f` over `xs` on `n` threads (the checks' job-path calls overlap). */
  def par[A, B](xs: Seq[A], n: Int)(f: A => B): Map[A, B] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(n)
    try {
      val fs = xs.map(x => x -> pool.submit(() => f(x)))
      fs.map { case (x, fu) => x -> fu.get() }.toMap
    } finally pool.shutdown()
  }

  /** Single-point reverse answers for `points`, each computed inside one
    * `reverse` call of more than the 32-point fast-path cutoff, so the
    * grid-join job answers them. */
  def reverseByJob(engine: ScoutEngine, points: Seq[(Double, Double)],
                   pad: Seq[(Double, Double)]): Map[(Double, Double), Option[HitKey]] =
    points.distinct.grouped(200).flatMap { g =>
      val call = if (g.size > FastReverseCutoff) g
                 else g ++ pad.filterNot(g.contains).take(FastReverseCutoff + 1 - g.size)
      g.zip(engine.reverse(call)).map { case (p, r) => p -> r.map { case (h, d) => key(h, d) } }
    }.toMap

  /** Answers for `points` from `reverseFast`, in calls of at most 32
    * points; a point is left out where the fast path declines. */
  def reverseByFastPath(engine: ScoutEngine, points: Seq[(Double, Double)])
      : Map[(Double, Double), Option[HitKey]] =
    points.distinct.grouped(FastReverseCutoff).flatMap { g =>
      engine.reverseFast(g).toSeq.flatMap(rs =>
        g.zip(rs).map { case (p, r) => p -> r.map { case (h, d) => key(h, d) } })
    }.toMap

  private def checkPointAnswers(ctx: Ctx, engine: ScoutEngine, samples: Seq[Sample],
                                pad: Seq[(Double, Double)]): Unit = {
    val ok = samples.filter(_.ok)
    val fwd = ok.collect { case s @ Sample(Fwd(r), _, _, _, _) => (r, s) }
    val distinct = fwd.map(_._1).distinct
    val sample = sampled(ctx, distinct)
    // one probe over every sampled text's grams warms the posting cache
    engine.forwardFast(ForwardReq(sample.flatMap(_.candidates)))
    val want = par(sample, ctx.cpus)(r =>
      engine.forwardDS(r).collect().toSeq.map(h => key(h, h.score)))
    fwd.foreach { case (r, s) =>
      if (want.get(r).exists(_ != forwardHits(s.resp.get.body))) {
        ctx.out.wrong += 1; ctx.out.fail("forward_mismatch")
      }
    }
    val rev = ok.collect { case s @ Sample(Rev(Seq(p)), _, _, _, _) => (p, s) }
    val rwant = reverseByJob(engine, rev.map(_._1), pad)
    rev.foreach { case (p, s) =>
      if (reverseHits(s.resp.get.body) != Seq(rwant(p))) { ctx.out.wrong += 1; ctx.out.fail("reverse_mismatch") }
    }
    ctx.out.stat("check.forward_distinct", distinct.size)
    ctx.out.stat("check.forward_checked", want.size)
    ctx.out.stat("check.reverse_distinct", rwant.size)
  }

  // ---- serve_point --------------------------------------------------------

  def servePoint(ctx: Ctx): Unit = {
    val c = new Corpus(ctx.seed)
    val rq = new Requests(c, ctx.seed)
    describe(ctx, c, rq)
    val raw = rawTable(ctx, c)
    val gaz = new File(ctx.work, "gaz").getPath
    val rnd = new java.util.Random(ctx.seed * 13 + 5)
    val offsets = Load.poisson(rnd, PointRate, ctx.seconds)
    val reqs = offsets.map(_ => rq.point())
    val fwds = reqs.collect { case f: Fwd => f }
    ctx.out.stat("mix.forward_share", fwds.size.toDouble / reqs.size)
    val srv = setup(ctx, { GazetteerBuilder.write(ctx.spark, raw, gaz); gaz },
      Seq.fill(PointWarmPasses)(rq.warmup).flatten, ctx.cpus)
    val samples = try {
      val (ticks, jvm) = (Server.cpuTicks, Server.cpuAndGcMs)
      val s = Load.open(srv.port, reqs, offsets, ctx.cpus, System.nanoTime() + 20000000L)
      report(ctx, s, ticks, jvm)
      s
    } finally srv.stop()
    ctx.out.mark("server_stopped")
    byKind(ctx, "forward", samples.filter(_.req.isInstanceOf[Fwd]), 0.5, 0.9, 0.99)
    byKind(ctx, "reverse", samples.filter(_.req.isInstanceOf[Rev]), 0.5, 0.9)
    val engine = ScoutEngine.fromPath(ctx.spark, gaz)
    val pad = rq.hot.map(h => (Requests.r7(h._1.lat), Requests.r7(h._1.lon)))
    checkPointAnswers(ctx, engine, samples, pad)
    ctx.out.mark("checked")
    finish(ctx)
    ctx.layers.run(ctx, c, rq, gaz, engine, samples, raw)
  }

  // ---- serve_batch --------------------------------------------------------

  def serveBatch(ctx: Ctx): Unit = {
    val c = new Corpus(ctx.seed)
    val rq = new Requests(c, ctx.seed)
    describe(ctx, c, rq)
    val raw = rawTable(ctx, c)
    val gaz = new File(ctx.work, "gaz").getPath
    val batches = Vector.fill(BatchWarm)(rq.reverseBatch(ReverseBatchPoints))
    val cycle = Iterator.continually(batches).flatten
    val next = () => cycle.next()
    val srv = setup(ctx, { GazetteerBuilder.write(ctx.spark, raw, gaz); gaz },
      batches, BatchConns)
    val samples = try {
      val (ticks, jvm) = (Server.cpuTicks, Server.cpuAndGcMs)
      val t0 = System.nanoTime()
      val s = Load.closed(srv.port, next, BatchConns, t0 + (ctx.seconds * 1e9).toLong)
      val wall = secs(t0)
      report(ctx, s, ticks, jvm)
      ctx.out.stat("reverse_batch.points_per_s", s.filter(_.ok).map(_.req match {
        case Rev(p) => p.size; case _ => 0 }).sum / wall)
      s
    } finally srv.stop()
    byKind(ctx, "reverse_batch", samples, 0.5, 0.9)
    ctx.out.stat("reverse_batch.latencies_ms",
      samples.map(s => f"${s.latencyMs}%.0f").mkString(","))
    val engine = ScoutEngine.fromPath(ctx.spark, gaz)
    // Each point of a batch, answered by the grid-join job, equals the
    // answer of `reverseFast`, the in-process path pinned to that join.
    val ok = samples.filter(_.ok)
    val points = ok.collect { case Sample(Rev(p), _, _, _, _) => p }.flatten
    val want = reverseByFastPath(engine, points)
    ok.foreach {
      case Sample(Rev(pts), _, _, _, Some(r)) =>
        val got = reverseHits(r.body)
        val bad = if (got.size != pts.size) pts.size
                  else pts.zip(got).count { case (p, g) => want.get(p).exists(_ != g) }
        if (bad > 0) { ctx.out.wrong += bad; ctx.out.fail("reverse_batch_mismatch", bad) }
      case _ => ()
    }
    ctx.out.stat("check.reverse_batch_points", points.distinct.size)
    ctx.out.stat("check.reverse_batch_checked", want.size)
    ctx.out.mark("checked")
    finish(ctx)
    ctx.layers.run(ctx, c, rq, gaz, engine, samples, raw)
  }
}

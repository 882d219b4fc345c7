package perfbench

import graft.core.{Fuzz, Geo, Norm, Settings}
import graft.etl.{GazetteerBuilder, TrigramIndex}
import graft.query.{Bbox, Hit, Ranking, Repo, ScoutEngine}
import graft.server.Json
import java.io.File
import org.apache.spark.sql.DataFrame
import Workloads.{median, secs}

/** The traced run's per-layer measurements. The serving workloads'
  * requests replay in-process, in order, on an engine bound by
  * `ScoutEngine.fromPath` to the served gazetteer, each twice: once
  * traced, once not, alternating which goes first, so the difference is
  * the tracing overhead. Request classes a workload does not send are
  * added as a few probe requests, and two CDC batches are applied to a
  * partitioned root, so every layer metric is measured on every
  * workload. Untraced runs skip all of it. */
final class Layers {
  private var buildS, readyS = Double.NaN

  def setup(build: Double, ready: Double): Unit = { buildS = build; readyS = ready }
  /** A per-layer metric the untraced phase of the run measured. */
  def carry(name: String, value: Double, unit: String): Unit = extra(name) = (value, unit)

  import Workloads.FastReverseCutoff

  private def hitJson(h: Hit, last: (String, Double)): Json.Value = Json.Obj(Map(
    "name" -> Json.Str(h.name), "lat" -> Json.Num(h.lat), "lon" -> Json.Num(h.lon),
    "country" -> h.country.map(Json.Str).getOrElse(Json.Null),
    "state" -> h.state.map(Json.Str).getOrElse(Json.Null),
    "city" -> h.city.map(Json.Str).getOrElse(Json.Null),
    "osm_id" -> Json.Num(h.osmId.toDouble), "kind" -> Json.Str(h.kind),
    last._1 -> Json.Num(last._2)))

  /** What the server does for one request, in-process: parse the body,
    * call the engine, write the response. Returns the engine call's ns. */
  private def serve(ctx: Ctx, engine: ScoutEngine, r: Req, i: Long): Long = {
    val t = ctx.tracer
    t.span("request", i) {
      t.span("server.parse")(Json.parse(r.body))
      val t0 = System.nanoTime()
      val body: Json.Value = r match {
        case Fwd(req) =>
          val hits = t.span("query.forward_fast")(engine.forwardFast(req))
            .getOrElse(t.span("query.forward_job")(engine.forwardDS(req).collect().toSeq))
          Json.Obj(Map("hits" -> Json.Arr(hits.map(h => hitJson(h, "score" -> h.score)))))
        case Rev(pts) =>
          val res =
            if (pts.size > FastReverseCutoff) t.span("query.reverse_job")(engine.reverse(pts))
            else t.span("query.reverse_fast")(engine.reverseFast(pts)).getOrElse {
              if (t.enabled) reverseDeclined += 1
              t.span("query.reverse_job")(engine.reverse(pts))
            }
          Json.Obj(Map("results" -> Json.Arr(res.map {
            case Some((h, d)) => Json.Obj(Map("hit" -> hitJson(h, "dist_km" -> d)))
            case None => Json.Obj(Map("hit" -> Json.Null))
          })))
        case Bulk(texts) =>
          val res = t.span("query.bulk")(engine.bulk(texts))
          Json.Obj(Map("results" -> Json.Arr(res.map(hs =>
            Json.Obj(Map("hits" -> Json.Arr(hs.map(h => hitJson(h, "score" -> h.score)))))))))
      }
      val engineNs = System.nanoTime() - t0
      t.span("server.write")(Json.write(body))
      engineNs
    }
  }

  private var reverseDeclined = 0

  private def spans(ctx: Ctx, name: String): Seq[Span] = ctx.tracer.rolled(name)
  private def medMs(ctx: Ctx, name: String): Double =
    median(spans(ctx, name).map(_.durNs / 1e6))

  def run(ctx: Ctx, c: Corpus, rq: Requests, gaz: String, engine: ScoutEngine,
          samples: Seq[Sample], raw: DataFrame): Unit = {
    if (!ctx.tracer.on) return
    val t = ctx.tracer
    val out = ctx.out
    // the HTTP phase, as spans built from the client's own timestamps
    samples.zipWithIndex.foreach { case (s, i) =>
      t.record(s"http.${kind(s.req)}", i.toLong, s.sent, s.done)
    }
    val own = samples.map(_.req)
    val probes =
      (if (own.exists(_.isInstanceOf[Fwd])) Nil else rq.hot.indices.map(rq.hotForward)) ++
      rq.hot.indices.take(5).map(rq.partial) ++
      (if (own.exists { case Rev(p) => p.size == 1; case _ => false }) Nil
       else rq.hot.take(30).map(h => Rev(Seq((Requests.r7(h._1.lat), Requests.r7(h._1.lon)))))) ++
      (if (own.exists(_.isInstanceOf[Bulk])) Nil else Seq(rq.bulk(Workloads.BulkTexts))) ++
      (if (own.exists { case Rev(p) => p.size > FastReverseCutoff; case _ => false }) Nil
       else Seq(rq.reverseBatch(Workloads.ReverseBatchPoints)))
    val batchy = (r: Req) => r match {
      case _: Bulk => true; case Rev(p) => p.size > FastReverseCutoff; case _ => false
    }
    val ownPart = own.filterNot(batchy) ++ own.filter(batchy).take(2)
    val replay = ownPart ++ probes

    // the engine is fresh: a first untimed batch job warms it, as
    // set-up warmed the server's
    t.enabled = false
    ownPart.find(batchy).foreach(serve(ctx, engine, _, -1L))
    // replay: each request traced and untraced, alternating the order
    val ratios = Vector.newBuilder[Double]
    val engineMs = Vector.newBuilder[Double]
    replay.zipWithIndex.foreach { case (r, i) =>
      def once(traced: Boolean): Long = {
        t.enabled = traced
        val t0 = System.nanoTime()
        val e = serve(ctx, engine, r, i.toLong)
        if (!traced && i < ownPart.size) engineMs += e / 1e6
        System.nanoTime() - t0
      }
      val (traced, plain) =
        if (i % 2 == 0) { val a = once(true); (a, once(false)) }
        else { val b = once(false); (once(true), b) }
      ratios += traced.toDouble / plain
    }
    t.enabled = true
    ctx.out.mark("replayed")
    val inProcessMs = median(engineMs.result())
    val httpMs = median(samples.filter(s => s.ok && ownPart.contains(s.req))
      .map(s => (s.done - s.sent) / 1e6))

    // area hints: one resolve per distinct hint
    val admin = ctx.spark.read.parquet(s"$gaz/admin").cache()
    val hints = replay.collect { case Fwd(r) if r.country.isDefined || r.cityHint.isDefined =>
      (r.cityHint, r.country) }.distinct
    val bboxes = hints.map { case (ch, co) =>
      (ch, co) -> t.span("query.bbox")(Repo.resolveAreaBbox(admin, ch, co)) }.toMap

    core(ctx, c, gaz, replay, bboxes)
    ctx.out.mark("core_timed")
    refreshSuite(ctx, c, rq, raw, replay)
    ctx.out.mark("refreshed")
    t.settle()

    val fwd = spans(ctx, "query.forward_fast").size
    val fwdJob = spans(ctx, "query.forward_job").size
    val revFast = spans(ctx, "query.reverse_fast")
    val m = scala.collection.mutable.LinkedHashMap.empty[String, (Double, String)]
    def put(k: String, v: Double, u: String): Unit = m(k) = (v, u)
    put("server.overhead_ms", httpMs - inProcessMs, "ms")
    put("server.parse_us", medMs(ctx, "server.parse") * 1e3, "us")
    put("server.write_us", medMs(ctx, "server.write") * 1e3, "us")
    put("server.ready_s", readyS, "s")
    put("query.fast_share", (fwd - fwdJob).toDouble / math.max(1, fwd), "ratio")
    put("query.reverse_fast_share",
      (revFast.size - reverseDeclined).toDouble /
        math.max(1, revFast.size), "ratio")
    put("query.forward_fast_ms", medMs(ctx, "query.forward_fast"), "ms")
    put("query.forward_job_ms", medMs(ctx, "query.forward_job"), "ms")
    put("query.reverse_fast_ms", median(revFast.map(_.durNs / 1e6)), "ms")
    put("query.bulk_ms", medMs(ctx, "query.bulk"), "ms")
    put("query.reverse_job_ms", medMs(ctx, "query.reverse_job"), "ms")
    put("query.bbox_ms", medMs(ctx, "query.bbox"), "ms")
    put("query.cold_requests", spans(ctx, "query.after_publish").count(_.jobs > 0).toDouble, "count")
    put("etl.build_s", buildS, "s")
    extra.foreach { case (k, v) => m(k) = v }
    val classes = Seq("forward_fast" -> "query.forward_fast", "forward_job" -> "query.forward_job",
      "reverse" -> "query.reverse_fast", "bulk" -> "query.bulk",
      "reverse_batch" -> "query.reverse_job", "refresh" -> "etl.refresh")
    for ((cls, span) <- classes) {
      val ss = spans(ctx, span)
      val n = math.max(1, ss.size).toDouble
      def per(f: Span => Double) = ss.map(f).sum / n
      put(s"spark.$cls.jobs", per(_.jobs.toDouble), "count")
      put(s"spark.$cls.tasks", per(_.tasks.toDouble), "count")
      put(s"spark.$cls.plan_ms", per(_.planMs), "ms")
      put(s"spark.$cls.exec_cpu_ms", per(_.cpuNs / 1e6), "ms")
      put(s"spark.$cls.exec_run_ms", per(_.runMs.toDouble), "ms")
      put(s"spark.$cls.shuffle_mb", per(_.shuffleBytes / 1048576.0), "MB")
      put(s"spark.$cls.input_mb", per(_.inputBytes / 1048576.0), "MB")
      put(s"spark.$cls.spill_mb", per(_.spillBytes / 1048576.0), "MB")
    }
    put("trace.overhead_pct", 100.0 * (median(ratios.result()) - 1.0), "%")
    out.stats("e2e") = out.metrics.map { case (k, (v, _)) => f"$k=$v%.4f" }.mkString(" ")
    out.metrics.clear()
    m.foreach { case (k, (v, u)) => out.metric(k, v, u) }
    t.write(new File(ctx.work, "spans.jsonl"))
  }

  private val extra = scala.collection.mutable.LinkedHashMap.empty[String, (Double, String)]

  private def kind(r: Req): String = r match {
    case _: Fwd => "forward"; case _: Bulk => "bulk"
    case Rev(p) => if (p.size > FastReverseCutoff) "reverse_batch" else "reverse"
  }

  /** Per-call costs of the scalar core and the driver-side probe, over the
    * candidates the replay's forward requests actually probe. */
  private def core(ctx: Ctx, c: Corpus, gaz: String, replay: Seq[Req],
                   bboxes: Map[(Option[String], Option[String]), Option[Bbox]]): Unit = {
    val t = ctx.tracer
    val index = ctx.spark.read.parquet(s"$gaz/name_index")
    val packed = if (index.columns.contains("ids")) index else TrigramIndex.packed(index)
    val cache = new TrigramIndex.PostingCache(packed)
    val fwd = replay.collect { case Fwd(r) => r }.distinct
    val toks = fwd.map(r => Norm.dedupTokens(r.candidates.map(x => Norm.tokenize(x.text))))
    toks.foreach(TrigramIndex.probeIdsCached(cache, _)) // warm the posting cache
    val probeNs = Vector.newBuilder[Double]
    val ids = toks.map { tk =>
      val t0 = System.nanoTime()
      val r = TrigramIndex.probeIdsCached(cache, tk)
      probeNs += (System.nanoTime() - t0).toDouble
      r.getOrElse(Array.emptyLongArray)
    }
    extra("etl.probe_us") = (median(probeNs.result()) / 1e3, "us")
    extra("etl.probe_ids") = (ids.map(_.length.toDouble).sum / math.max(1, ids.size), "count")

    val pois = ctx.spark.read.parquet(s"$gaz/pois")
    val rows = pois.select("osm_id", "name_local", "name_en", "name_local_norm", "name_en_norm",
        "kind", "importance", "lat", "lon").collect()
      .map(r => r.getLong(0) -> r).toMap
    val texts = c.pois.map(_.name)
    val tokN = texts.size
    val tt = System.nanoTime()
    t.span("core.tokenize")(texts.foreach(Norm.tokenize))
    extra("core.tokenize_us") = ((System.nanoTime() - tt) / 1e3 / tokN, "us")

    val settings = Settings()
    val pairs = fwd.zip(ids).flatMap { case (r, is) =>
      is.take(512).flatMap(rows.get).map(row => (r, row)) }
    val normed = pairs.map { case (r, row) =>
      (Norm.norm(r.candidates.head.text), Option(row.getString(3)).getOrElse("")) }
    val tw = System.nanoTime()
    var sink = 0.0
    t.span("core.wratio")(normed.foreach { case (q, n) => sink += Fuzz.wratio(q, n) })
    extra("core.wratio_us") = ((System.nanoTime() - tw) / 1e3 / math.max(1, normed.size), "us")
    val ts = System.nanoTime()
    t.span("core.score")(pairs.foreach { case (r, row) =>
      sink += Ranking.scoreScalar(r.candidates.map(_.text),
        bboxes.getOrElse((r.cityHint, r.country), None), settings,
        row.getString(1), row.getString(2), row.getString(3), row.getString(4),
        row.getString(5), Option(row.get(6)).map(_.asInstanceOf[Double]),
        row.getDouble(7), row.getDouble(8))
    })
    extra("core.score_us") = ((System.nanoTime() - ts) / 1e3 / math.max(1, pairs.size), "us")
    val pts = c.pois.map(p => (p.lat, p.lon)).toArray
    val reps = 20
    val th = System.nanoTime()
    t.span("core.haversine") {
      var k = 0
      while (k < reps) {
        var j = 1
        while (j < pts.length) {
          sink += Geo.haversineKm(pts(j - 1)._1, pts(j - 1)._2, pts(j)._1, pts(j)._2); j += 1
        }
        k += 1
      }
    }
    extra("core.haversine_ns") = ((System.nanoTime() - th).toDouble / (reps * (pts.length - 1)), "ns")
    if (sink == 42.0) println("") // keeps the loops' results live
  }

  private def tree(dir: File): Map[String, Long] =
    if (!dir.exists) Map.empty
    else if (dir.isFile) Map(dir.getPath -> dir.length)
    else dir.listFiles().toSeq.flatMap(f => tree(f)).toMap

  private val ReadsAfterPublish = 20

  /** Two CDC batches through `refreshDelta`, each followed by the read
    * stream's first forward requests on an engine that reloaded the new
    * version, counting those that start a Spark job. */
  private def refreshSuite(ctx: Ctx, c: Corpus, rq: Requests, raw: DataFrame,
                           replay: Seq[Req]): Unit = {
    val r = new File(ctx.work, "suite-root").getPath
    GazetteerBuilder.writeVersionedPartitioned(ctx.spark, raw, r)
    val engine = ScoutEngine.fromPath(ctx.spark, graft.ext.VersionedStore.resolveCurrent(ctx.spark, r))
    val cdc = new Cdc(c, rq, ctx.seed, 7000000L)
    val reads = (replay.collect { case f: Fwd => f } ++
      rq.hot.indices.map(rq.hotForward)).take(ReadsAfterPublish)
    val written = Vector.newBuilder[(Double, Double, Double, Double)]
    val rootDir = new File(r)
    for (_ <- 0 until 2) {
      val (feed, _) = cdc.nextBatch(ctx)
      val feedBytes = tree(new File(feed)).values.sum.toDouble
      val before = tree(rootDir)
      val t0 = System.nanoTime()
      val v = Cdc.refresh(ctx, r, feed)
      val s = secs(t0)
      val added = tree(rootDir).filter { case (p, _) => !before.contains(p) }
      written += ((s, added.values.sum.toDouble, added.size.toDouble, added.values.sum / feedBytes))
      engine.reloadFrom(v)
      reads.zipWithIndex.foreach { case (f, i) =>
        ctx.tracer.span("query.after_publish", i.toLong)(engine.forward(f.req)) }
    }
    val w = written.result()
    def mean(f: ((Double, Double, Double, Double)) => Double) = w.map(f).sum / w.size
    extra("etl.refresh_s") = (median(w.map(_._1)), "s")
    extra("etl.refresh_mb_written") = (mean(_._2) / 1048576.0, "MB")
    extra("etl.refresh_files") = (mean(_._3), "count")
    extra("etl.write_amp") = (mean(_._4), "ratio")
    ctx.tracer.settle()
    val rs = ctx.tracer.rolled("etl.refresh")
    extra("etl.refresh_jobs") = (rs.map(_.jobs.toDouble).sum / math.max(1, rs.size), "count")
  }
}

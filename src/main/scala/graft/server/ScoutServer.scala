package graft.server

import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}
import graft.query.{ForwardCandidate, ForwardReq, Hit, ScoutEngine}
import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets

/** HTTP serving layer (reference: `app.py`) on the JDK's built-in
  * HttpServer — zero dependencies:
  *
  *   - `POST /v1/geocode/forward` with the reference's request shape
  *     (`{candidates:[{text}], country?, city_hint?, limit?}` →
  *     `{hits:[{name,lat,lon,country,state,city,osm_id,kind,score}]}`,
  *     `app.py:14-38`)
  *   - `GET /healthz` → `{"ok": true}` (`app.py:116-118`)
  *   - `Server-Timing: app;dur=<ms>` + `X-Process-Time` response headers
  *     (`app.py:58-65`); a JSON endpoint's 200 also times its
  *     `parse`, `engine` and `serialize` phases
  *
  * One engine (one SparkSession, cached gazetteer) serves all requests —
  * the Spark replacement for the reference's per-request read-only
  * connections (SURVEY.md §3.3).
  */
class ScoutServer(engine: ScoutEngine, port: Int = 8000, threads: Int = 8) {

  import Json._

  // TCP_NODELAY on every accepted connection. `HttpExchange` writes the
  // headers and the body as two writes, and cannot combine them; with
  // Nagle on, the body waits for the client to ACK the headers, which a
  // keep-alive client delays by ~40 ms. The channel itself is out of
  // reach without `--add-opens`, so the JDK's own switch is set, before
  // the first server loads `ServerConfig`, which reads it once.
  System.setProperty("sun.net.httpserver.nodelay", "true")
  private val server = HttpServer.create(new InetSocketAddress(port), 0)
  // Real request concurrency: SparkSession is thread-safe and concurrent
  // collect()s schedule as concurrent jobs over the shared cached
  // gazetteer (local[32] and any real cluster both overlap them), and
  // the engine keeps no per-request mutable state (no temp views; the
  // settings closure is immutable) — serializing on one dispatcher
  // thread would queue every request behind the slowest one.
  private val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
  server.setExecutor(pool)

  def boundPort: Int = server.getAddress.getPort

  /** Answer `ex` with `body`. `Server-Timing` lists each of `phases` (a
    * name and the `nanoTime` it ended, in order after `startedNs`), then
    * `app`, the total, which `X-Process-Time` repeats. Durations are
    * whole microseconds of the offsets from `startedNs`, so the phases
    * never sum past `app`. */
  private def respond(ex: HttpExchange, code: Int, body: String, startedNs: Long,
                      phases: Seq[(String, Long)] = Nil,
                      contentType: String = "application/json"): Unit = {
    val bytes = body.getBytes(StandardCharsets.UTF_8)
    val ends = (phases.map(_._2) :+ System.nanoTime()).map(t => (t - startedNs) / 1000)
    val starts = 0L +: ends
    def ms(us: Long): String = f"${us / 1e3}%.3f"
    val timing = phases.indices.map(i => s"${phases(i)._1};dur=${ms(ends(i) - starts(i))}") :+
      s"app;dur=${ms(ends.last)}"
    ex.getResponseHeaders.set("Content-Type", contentType)
    ex.getResponseHeaders.set("Server-Timing", timing.mkString(", "))
    ex.getResponseHeaders.set("X-Process-Time", ms(ends.last))
    ex.sendResponseHeaders(code, bytes.length)
    ex.getResponseBody.write(bytes)
    ex.close()
  }

  /** False, after answering 405 with the `Allow` header RFC 9110
    * §15.5.6 requires, unless `ex` uses `method`. */
  private def allows(ex: HttpExchange, method: String, startedNs: Long): Boolean =
    ex.getRequestMethod == method || {
      ex.getResponseHeaders.set("Allow", method)
      respond(ex, 405, """{"detail": "Method Not Allowed"}""", startedNs)
      false
    }

  private def parseReq(body: Value): ForwardReq = {
    val o = body.asObj
    ForwardReq(
      candidates = o("candidates").asArr
        .map(c => ForwardCandidate(c.asObj("text").asStr)),
      country = o.get("country").collect { case Str(s) => s },
      cityHint = o.get("city_hint").collect { case Str(s) => s },
      limit = limitOf(o))
  }

  /** A request's `limit` (default 5), checked here so a negative,
    * fractional or over-cap one is the client's fault, not a silently
    * truncated or failed Spark plan. */
  private def limitOf(o: Map[String, Value]): Int =
    o.get("limit").collect { case Num(d) =>
      require(d.isWhole && d >= 0 && d <= ScoutServer.MaxLimit,
        s"limit must be an integer in [0, ${ScoutServer.MaxLimit}], got $d")
      d.toInt
    }.getOrElse(5)

  /** The array `o(key)`, at most [[ScoutServer.MaxItems]] long. */
  private def batchOf(o: Map[String, Value], key: String): Seq[Value] = {
    val items = o(key).asArr
    require(items.length <= ScoutServer.MaxItems,
      s"$key takes at most ${ScoutServer.MaxItems} entries, got ${items.length}")
    items
  }

  private def hitJson(h: Hit): Value = Obj(Map(
    "name" -> Str(h.name),
    "lat" -> Num(h.lat),
    "lon" -> Num(h.lon),
    "country" -> h.country.map(Str).getOrElse(Null),
    "state" -> h.state.map(Str).getOrElse(Null),
    "city" -> h.city.map(Str).getOrElse(Null),
    "osm_id" -> Num(h.osmId.toDouble),
    "kind" -> Str(h.kind),
    "score" -> Num(h.score)))

  server.createContext("/healthz", new HttpHandler {
    override def handle(ex: HttpExchange): Unit = {
      val t0 = System.nanoTime()
      respond(ex, 200, """{"ok": true}""", t0)
    }
  })

  /** OpenAPI description of the serving surface (reference parity:
    * FastAPI auto-serves `/openapi.json` + `/docs` — `app.py:41` title
    * and version, `app.py:75-84` the worked forward example). Static
    * document — the contract is fixed at compile time, exactly like the
    * reference's pydantic models. */
  server.createContext("/openapi.json", new HttpHandler {
    override def handle(ex: HttpExchange): Unit = {
      val t0 = System.nanoTime()
      if (allows(ex, "GET", t0)) respond(ex, 200, ScoutServer.openApiJson, t0)
    }
  })

  /** Minimal human-readable docs page (the `/docs` slot): zero-egress
    * stand-in for Swagger UI — endpoint list, the worked request, and a
    * link to the machine-readable spec. */
  server.createContext("/docs", new HttpHandler {
    override def handle(ex: HttpExchange): Unit = {
      val t0 = System.nanoTime()
      if (allows(ex, "GET", t0))
        respond(ex, 200, ScoutServer.docsHtml, t0, contentType = "text/html; charset=utf-8")
    }
  })

  /** A JSON `POST` endpoint in two phases, each with its own fault
    * class: `parse` turns the body into a request — any failure there
    * is the client's (422) — and `serve` answers it — any failure there
    * is the engine's (500). At most [[ScoutServer.MaxBodyBytes]] of the
    * body is read: a larger one is answered 413 and its connection
    * closed, never buffered whole on the driver heap. A 200's
    * `Server-Timing` splits `app` into `parse` (reading and parsing the
    * body), `engine` (`serve`) and `serialize` (writing the JSON). */
  private def jsonEndpoint[A](path: String)(parse: Value => A)(serve: A => Value): Unit =
    server.createContext(path, new HttpHandler {
      override def handle(ex: HttpExchange): Unit = {
        val t0 = System.nanoTime()
        def detail(msg: String): String = write(Obj(Map("detail" -> Str(msg))))
        def fail(code: Int, e: Exception): Unit = respond(ex, code,
          detail(Option(e.getMessage).getOrElse(e.getClass.getSimpleName)), t0)
        if (!allows(ex, "POST", t0)) return
        val raw = ex.getRequestBody.readNBytes(ScoutServer.MaxBodyBytes + 1)
        if (raw.length > ScoutServer.MaxBodyBytes) {
          ex.getResponseHeaders.set("Connection", "close") // the rest stays unread
          respond(ex, 413, detail(
            s"request body exceeds ${ScoutServer.MaxBodyBytes} bytes"), t0)
          return
        }
        val req = try parse(Json.parse(new String(raw, StandardCharsets.UTF_8)))
        catch { case e: Exception => fail(422, e); return }
        val parsed = System.nanoTime()
        val value = try serve(req) catch { case e: Exception => fail(500, e); return }
        val served = System.nanoTime()
        val body = try write(value) catch { case e: Exception => fail(500, e); return }
        respond(ex, 200, body, t0,
          Seq("parse" -> parsed, "engine" -> served, "serialize" -> System.nanoTime()))
      }
    })

  jsonEndpoint("/v1/geocode/forward")(parseReq) { req =>
    Obj(Map("hits" -> Arr(engine.forward(req).map(hitJson))))
  }

  /** BULK endpoint: the reference's forward request shape, list-valued —
    * `{queries:[{text}], limit?}` → `{results:[{text, hits:[...]}]}`,
    * results in request order. One distributed job serves the whole
    * list ([[ScoutEngine.bulk]]), amortizing the per-request job floor
    * the serving profile measured; each entry's hits equal a hint-less
    * single-candidate `/v1/geocode/forward` call (spec-pinned). */
  jsonEndpoint("/v1/geocode/bulk") { v =>
    val o = v.asObj
    (batchOf(o, "queries").map(q => q.asObj("text").asStr), limitOf(o))
  } { case (texts, limit) =>
    Obj(Map("results" -> Arr(texts.zip(engine.bulk(texts, limit)).map { case (t, hits) =>
      Obj(Map("text" -> Str(t), "hits" -> Arr(hits.map(hitJson))))
    })))
  }

  /** REVERSE endpoint — the spatial complement the reference lacks:
    * `{points:[{lat, lon}]}` → `{results:[{lat, lon, hit: {...,
    * dist_km} | null}]}` in request order ([[ScoutEngine.reverse]]: a
    * short list answers in-process from the driver cell cache, a longer
    * one as one Spark job over the snapshot's cell index). */
  jsonEndpoint("/v1/geocode/reverse") { v =>
    batchOf(v.asObj, "points").map { p =>
      val po = p.asObj
      def coord(name: String, bound: Int): Double = po(name) match {
        case Num(d) if math.abs(d) <= bound => d // false for NaN and ±∞
        case Num(d) => sys.error(s"$name must be a finite number in [-$bound, $bound], got $d")
        case v => sys.error(s"bad $name: $v")
      }
      (coord("lat", 90), coord("lon", 180))
    }
  } { pts =>
    Obj(Map("results" -> Arr(pts.zip(engine.reverse(pts)).map { case ((la, lo), r) =>
      Obj(Map("lat" -> Num(la), "lon" -> Num(lo),
        "hit" -> r.map { case (h, dist) =>
          val Obj(m) = hitJson(h): @unchecked
          Obj(m - "score" + ("dist_km" -> Num(dist)))
        }.getOrElse(Null)))
    })))
  }

  def start(): ScoutServer = { server.start(); this }
  def stop(): Unit = { server.stop(0); pool.shutdown() }
}

object ScoutServer {

  /** Largest request body a JSON endpoint reads: 1 MiB, two orders of
    * magnitude above the largest body in use (a 200-point reverse batch
    * is ~7.5 KB). */
  val MaxBodyBytes: Int = 1 << 20

  /** Most entries a bulk `queries` or reverse `points` array may hold:
    * 50 times the largest batch in use (200 points). */
  val MaxItems: Int = 10000

  /** Largest `limit`: the forward path's scan cap (`limitScan`), past
    * which a forward request returns no more hits; bulk keeps the same
    * bound. */
  val MaxLimit: Int = 10000

  /** OpenAPI 3.0 document for the four endpoints. The forward example
    * is the reference's worked request (`app.py:75-84`: Monograph
    * Dining, country "my", limit 3) so a client generator or curl user
    * gets the same first query either way. */
  val openApiJson: String =
    """{
      |  "openapi": "3.0.3",
      |  "info": {"title": "scout", "version": "1.0.0"},
      |  "paths": {
      |    "/v1/geocode/forward": {
      |      "post": {
      |        "summary": "Name → lat/lon",
      |        "tags": ["geocoding"],
      |        "requestBody": {"required": true, "content": {"application/json": {
      |          "schema": {"$ref": "#/components/schemas/ForwardReq"},
      |          "examples": {"basic": {
      |            "summary": "Restaurant by country",
      |            "value": {"candidates": [{"text": "Monograph Dining"}],
      |                      "country": "my", "limit": 3}}}}}},
      |        "responses": {
      |          "200": {"description": "Ranked hits", "content": {"application/json": {
      |            "schema": {"$ref": "#/components/schemas/ForwardResp"}}}},
      |          "413": {"description": "Request body over 1 MiB", "content": {"application/json": {
      |            "schema": {"$ref": "#/components/schemas/Error"}}}},
      |          "422": {"description": "Validation error", "content": {"application/json": {
      |            "schema": {"$ref": "#/components/schemas/Error"}}}},
      |          "500": {"description": "Engine error", "content": {"application/json": {
      |            "schema": {"$ref": "#/components/schemas/Error"}}}}}}},
      |    "/v1/geocode/bulk": {
      |      "post": {
      |        "summary": "Batch forward geocode (one distributed job)",
      |        "tags": ["geocoding"],
      |        "requestBody": {"required": true, "content": {"application/json": {
      |          "schema": {"$ref": "#/components/schemas/BulkReq"}}}},
      |        "responses": {
      |          "200": {"description": "Per-query hits in request order",
      |            "content": {"application/json": {
      |              "schema": {"$ref": "#/components/schemas/BulkResp"}}}},
      |          "413": {"description": "Request body over 1 MiB", "content": {"application/json": {
      |            "schema": {"$ref": "#/components/schemas/Error"}}}},
      |          "422": {"description": "Validation error", "content": {"application/json": {
      |            "schema": {"$ref": "#/components/schemas/Error"}}}},
      |          "500": {"description": "Engine error", "content": {"application/json": {
      |            "schema": {"$ref": "#/components/schemas/Error"}}}}}}},
      |    "/v1/geocode/reverse": {
      |      "post": {
      |        "summary": "lat/lon → nearest place",
      |        "tags": ["geocoding"],
      |        "requestBody": {"required": true, "content": {"application/json": {
      |          "schema": {"$ref": "#/components/schemas/ReverseReq"}}}},
      |        "responses": {
      |          "200": {"description": "Nearest hit (or null) per point in request order",
      |            "content": {"application/json": {
      |              "schema": {"$ref": "#/components/schemas/ReverseResp"}}}},
      |          "413": {"description": "Request body over 1 MiB", "content": {"application/json": {
      |            "schema": {"$ref": "#/components/schemas/Error"}}}},
      |          "422": {"description": "Validation error", "content": {"application/json": {
      |            "schema": {"$ref": "#/components/schemas/Error"}}}},
      |          "500": {"description": "Engine error", "content": {"application/json": {
      |            "schema": {"$ref": "#/components/schemas/Error"}}}}}}},
      |    "/healthz": {
      |      "get": {
      |        "summary": "Liveness",
      |        "responses": {"200": {"description": "ok", "content": {"application/json": {
      |          "schema": {"type": "object",
      |            "properties": {"ok": {"type": "boolean"}}}}}}}}}
      |  },
      |  "components": {"schemas": {
      |    "ForwardCandidate": {"type": "object", "required": ["text"],
      |      "properties": {"text": {"type": "string"}}},
      |    "ForwardReq": {"type": "object", "required": ["candidates"],
      |      "properties": {
      |        "candidates": {"type": "array",
      |          "items": {"$ref": "#/components/schemas/ForwardCandidate"}},
      |        "country": {"type": "string", "nullable": true},
      |        "city_hint": {"type": "string", "nullable": true},
      |        "limit": {"type": "integer", "minimum": 0, "maximum": 10000, "default": 5}}},
      |    "Hit": {"type": "object",
      |      "required": ["name", "lat", "lon", "osm_id", "kind", "score"],
      |      "properties": {
      |        "name": {"type": "string"},
      |        "lat": {"type": "number"},
      |        "lon": {"type": "number"},
      |        "country": {"type": "string", "nullable": true},
      |        "state": {"type": "string", "nullable": true},
      |        "city": {"type": "string", "nullable": true},
      |        "osm_id": {"type": "integer"},
      |        "kind": {"type": "string"},
      |        "score": {"type": "number"}}},
      |    "ForwardResp": {"type": "object", "properties": {
      |      "hits": {"type": "array", "items": {"$ref": "#/components/schemas/Hit"}}}},
      |    "BulkReq": {"type": "object", "required": ["queries"],
      |      "properties": {
      |        "queries": {"type": "array", "maxItems": 10000,
      |          "items": {"$ref": "#/components/schemas/ForwardCandidate"}},
      |        "limit": {"type": "integer", "minimum": 0, "maximum": 10000, "default": 5}}},
      |    "BulkResp": {"type": "object", "properties": {
      |      "results": {"type": "array", "items": {"type": "object", "properties": {
      |        "text": {"type": "string"},
      |        "hits": {"type": "array",
      |          "items": {"$ref": "#/components/schemas/Hit"}}}}}}},
      |    "ReverseReq": {"type": "object", "required": ["points"],
      |      "properties": {"points": {"type": "array", "maxItems": 10000, "items": {
      |        "type": "object", "required": ["lat", "lon"], "properties": {
      |          "lat": {"type": "number", "minimum": -90, "maximum": 90},
      |          "lon": {"type": "number", "minimum": -180, "maximum": 180}}}}}},
      |    "ReverseResp": {"type": "object", "properties": {
      |      "results": {"type": "array", "items": {"type": "object", "properties": {
      |        "lat": {"type": "number"}, "lon": {"type": "number"},
      |        "hit": {"nullable": true, "allOf": [
      |          {"$ref": "#/components/schemas/Hit"}]}}}}}},
      |    "Error": {"type": "object",
      |      "properties": {"detail": {"type": "string"}}}
      |  }}
      |}""".stripMargin

  val docsHtml: String =
    """<!doctype html><html><head><meta charset="utf-8"><title>scout — API docs</title>
      |<style>body{font-family:sans-serif;max-width:46em;margin:2em auto;padding:0 1em}
      |code,pre{background:#f4f4f4;padding:2px 4px;border-radius:3px}</style></head><body>
      |<h1>scout <small>1.0.0</small></h1>
      |<p>Machine-readable spec: <a href="/openapi.json">/openapi.json</a></p>
      |<h2>POST /v1/geocode/forward</h2><p>Name &rarr; lat/lon.</p>
      |<pre>curl -s -X POST http://HOST:PORT/v1/geocode/forward \
      |  -d '{"candidates":[{"text":"Monograph Dining"}],"country":"my","limit":3}'</pre>
      |<h2>POST /v1/geocode/bulk</h2>
      |<p>Batch forward geocode: <code>{"queries":[{"text":"..."}],"limit":5}</code></p>
      |<h2>POST /v1/geocode/reverse</h2>
      |<p>lat/lon &rarr; nearest place: <code>{"points":[{"lat":3.15,"lon":101.7}]}</code></p>
      |<h2>GET /healthz</h2><p>Liveness: <code>{"ok": true}</code></p>
      |</body></html>""".stripMargin
}

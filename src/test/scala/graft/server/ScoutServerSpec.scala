package graft.server

import graft.SparkSpec
import graft.core.Settings
import graft.etl.GazetteerBuilder
import graft.query.ScoutEngine
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import java.net.{HttpURLConnection, InetSocketAddress, URI}
import java.nio.charset.StandardCharsets

class ScoutServerSpec extends SparkSpec {

  private lazy val server: ScoutServer = {
    val schema = StructType(Seq(
      StructField("id", LongType),
      StructField("name", StringType),
      StructField("tags", MapType(StringType, StringType)),
      StructField("wkt", StringType)))
    val rows = Seq(
      Row(1L, "Monograph Dining", Map("amenity" -> "restaurant"), "POINT(101.6869 3.139)"),
      Row(100L, "Malaysia", Map("boundary" -> "administrative", "admin_level" -> "2"),
        "POLYGON((99.6 0.8, 119.3 0.8, 119.3 7.4, 99.6 7.4, 99.6 0.8))"))
    val raw = spark.createDataFrame(spark.sparkContext.parallelize(rows), schema)
    val engine = new ScoutEngine(spark,
      GazetteerBuilder.buildPois(raw), GazetteerBuilder.buildAdmin(raw), Settings())
    new ScoutServer(engine, port = 0).start() // ephemeral port
  }

  override def afterAll(): Unit = { server.stop(); super.afterAll() }

  private def http(method: String, path: String, body: String = null,
                   port: Int = -1): (Int, String, Map[String, String]) = {
    val p = if (port > 0) port else server.boundPort
    val conn = URI.create(s"http://127.0.0.1:$p$path")
      .toURL.openConnection().asInstanceOf[HttpURLConnection]
    conn.setRequestMethod(method)
    if (body != null) {
      conn.setDoOutput(true)
      conn.getOutputStream.write(body.getBytes(StandardCharsets.UTF_8))
    }
    val code = conn.getResponseCode
    val stream = if (code < 400) conn.getInputStream else conn.getErrorStream
    val text = new String(stream.readAllBytes(), StandardCharsets.UTF_8)
    val headers = Seq("Server-Timing", "X-Process-Time", "Allow", "Content-Type")
      .flatMap(h => Option(conn.getHeaderField(h)).map(h -> _)).toMap
    (code, text, headers)
  }

  test("healthz") {
    val (code, body, _) = http("GET", "/healthz")
    assert(code == 200 && body == """{"ok": true}""")
  }

  test("forward geocode over HTTP (README worked example shape)") {
    val (code, body, headers) = http("POST", "/v1/geocode/forward",
      """{"candidates":[{"text":"Monograph Dining"}],"country":"malaysia","limit":3}""")
    assert(code == 200, body)
    val hits = Json.parse(body).asObj("hits").asArr
    assert(hits.nonEmpty)
    val top = hits.head.asObj
    assert(top("name").asStr == "Monograph Dining")
    assert(top("osm_id").asNum == 1.0)
    assert(top("score").asNum > 0.5)
    assert(headers.contains("Server-Timing"), "timing instrumentation header")
  }

  test("openapi.json parses and describes the serving surface (reference /docs parity)") {
    val (code, body, _) = http("GET", "/openapi.json")
    assert(code == 200, body)
    val spec = Json.parse(body).asObj
    assert(spec("openapi").asStr.startsWith("3."))
    val info = spec("info").asObj
    assert(info("title").asStr == "scout" && info("version").asStr == "1.0.0")
    val paths = spec("paths").asObj
    for (p <- Seq("/v1/geocode/forward", "/v1/geocode/bulk",
        "/v1/geocode/reverse", "/healthz"))
      assert(paths.contains(p), s"openapi paths missing $p")
    // the reference's worked example travels with the spec (app.py:75-84)
    val example = paths("/v1/geocode/forward").asObj("post").asObj("requestBody")
      .asObj("content").asObj("application/json").asObj("examples").asObj("basic")
      .asObj("value").asObj
    assert(example("candidates").asArr.head.asObj("text").asStr == "Monograph Dining")
    assert(example("country").asStr == "my")
    // and the example is an ACCEPTED request: POST it verbatim
    val (c2, b2, _) = http("POST", "/v1/geocode/forward", Json.write(Json.Obj(Map(
      "candidates" -> example("candidates"),
      "country" -> example("country"),
      "limit" -> example("limit")))))
    assert(c2 == 200, b2)
  }

  test("docs page serves endpoint list as HTML") {
    val (code, body, headers) = http("GET", "/docs")
    assert(code == 200)
    assert(headers.get("Content-Type").contains("text/html; charset=utf-8"), headers)
    assert(headers.contains("Server-Timing"), headers)
    assert(body.contains("/openapi.json") && body.contains("/v1/geocode/forward")
      && body.contains("Monograph Dining"))
  }

  test("malformed body -> 422 with detail (not a crash)") {
    val (code, body, _) = http("POST", "/v1/geocode/forward", """{"nope": []}""")
    assert(code == 422 && body.contains("detail"))
  }

  test("wrong method -> 405") {
    // RFC 9110 §15.5.6: a 405 names the methods the resource allows
    for ((method, path, allow) <- Seq(("GET", "/v1/geocode/forward", "POST"),
        ("GET", "/v1/geocode/bulk", "POST"), ("GET", "/v1/geocode/reverse", "POST"),
        ("POST", "/openapi.json", "GET"), ("POST", "/docs", "GET"))) {
      val (code, _, headers) = http(method, path)
      assert(code == 405, s"$method $path")
      assert(headers.get("Allow").contains(allow), s"$method $path: $headers")
    }
  }

  test("keep-alive requests answer without a delayed-ACK stall (server TCP_NODELAY)") {
    // one keep-alive connection kept as an ordinary client keeps it:
    // TCP_NODELAY on its side, each request written in one piece. The
    // server writes headers and body separately, so with Nagle on at
    // its end every body waited ~40 ms for the ACK of the headers.
    val sock = new java.net.Socket()
    try {
      sock.setTcpNoDelay(true)
      sock.connect(new InetSocketAddress("127.0.0.1", server.boundPort), 5000)
      sock.setSoTimeout(20000)
      val in = new java.io.BufferedInputStream(sock.getInputStream)
      val out = sock.getOutputStream
      def line(): String = {
        val sb = new StringBuilder
        var c = in.read()
        while (c != '\n') {
          assert(c >= 0, "connection closed mid-response")
          if (c != '\r') sb += c.toChar
          c = in.read()
        }
        sb.toString
      }
      val req = "GET /healthz HTTP/1.1\r\nHost: x\r\n\r\n".getBytes(StandardCharsets.UTF_8)
      val ms = (0 until 21).map { _ =>
        val t0 = System.nanoTime()
        out.write(req)
        out.flush()
        val status = line()
        assert(status.startsWith("HTTP/1.1 200"), status)
        val length = Iterator.continually(line()).takeWhile(_.nonEmpty).toList
          .collectFirst { case h if h.toLowerCase.startsWith("content-length:") =>
            h.substring(h.indexOf(':') + 1).trim.toInt }
        assert(length.isDefined, "no Content-Length")
        assert(new String(in.readNBytes(length.get), StandardCharsets.UTF_8) == """{"ok": true}""")
        (System.nanoTime() - t0) / 1e6
      }
      val median = ms.sorted.apply(ms.size / 2)
      assert(median < 20, f"median $median%.1f ms: ${ms.map(m => f"$m%.1f").mkString(" ")}")
    } finally sock.close()
  }

  test("HttpServer.create appears under src/main/scala only in ScoutServer.scala") {
    // ScoutServer sets sun.net.httpserver.nodelay before its server is
    // created; a JDK server created anywhere else first would load the
    // server config without it
    val callers = graft.BootSpec.mainSourcesContaining("HttpServer.create")
    assert(callers == Seq("graft/server/ScoutServer.scala"),
      s"HttpServer.create outside graft/server/ScoutServer.scala: $callers")
  }

  test("a 200 splits Server-Timing into parse, engine and serialize within app") {
    for ((path, body) <- Seq(
        "/v1/geocode/forward" -> """{"candidates":[{"text":"Monograph Dining"}],"limit":3}""",
        "/v1/geocode/bulk" -> """{"queries":[{"text":"Monograph Dining"}],"limit":3}""",
        "/v1/geocode/reverse" -> """{"points":[{"lat": 3.14, "lon": 101.69}]}""")) {
      val (code, text, headers) = http("POST", path, body)
      assert(code == 200, text)
      val phases = headers("Server-Timing").split(",").toSeq.map { p =>
        val Array(name, dur) = p.trim.split(";dur="): @unchecked
        name -> BigDecimal(dur)
      }
      assert(phases.map(_._1) == Seq("parse", "engine", "serialize", "app"), s"$path: $headers")
      val dur = phases.toMap
      assert(dur("parse") + dur("engine") + dur("serialize") <= dur("app"), s"$path: $headers")
      assert(BigDecimal(headers("X-Process-Time")) == dur("app"), s"$path: $headers")
    }
  }

  private def schemas: Map[String, Json.Value] =
    Json.parse(http("GET", "/openapi.json")._2).asObj("components").asObj("schemas").asObj

  test("reverse points over the cap -> 422 naming the cap") {
    val cap = ScoutServer.MaxItems
    val points = Seq.fill(cap + 1)("""{"lat": 3.14, "lon": 101.69}""").mkString(",")
    val (code, body, _) = http("POST", "/v1/geocode/reverse", s"""{"points":[$points]}""")
    assert(code == 422 && body.contains("points") && body.contains(cap.toString), s"$code $body")
    assert(schemas("ReverseReq").asObj("properties").asObj("points").asObj("maxItems").asNum == cap)
  }

  test("bulk queries over the cap -> 422 naming the cap") {
    val cap = ScoutServer.MaxItems
    val queries = Seq.fill(cap + 1)("""{"text":"Monograph Dining"}""").mkString(",")
    val (code, body, _) = http("POST", "/v1/geocode/bulk", s"""{"queries":[$queries]}""")
    assert(code == 422 && body.contains("queries") && body.contains(cap.toString), s"$code $body")
    assert(schemas("BulkReq").asObj("properties").asObj("queries").asObj("maxItems").asNum == cap)
  }

  test("limit over the cap -> 422 naming the cap; the cap itself is served") {
    val cap = ScoutServer.MaxLimit
    for ((path, list) <- Seq("/v1/geocode/forward" -> "candidates", "/v1/geocode/bulk" -> "queries")) {
      val (code, body, _) = http("POST", path,
        s"""{"$list":[{"text":"Monograph Dining"}],"limit":${cap + 1}}""")
      assert(code == 422 && body.contains("limit") && body.contains(cap.toString), s"$path: $code $body")
    }
    val (code, body, _) = http("POST", "/v1/geocode/forward",
      s"""{"candidates":[{"text":"Monograph Dining"}],"limit":$cap}""")
    assert(code == 200, body)
    for (req <- Seq("ForwardReq", "BulkReq"))
      assert(schemas(req).asObj("properties").asObj("limit").asObj("maximum").asNum == cap, req)
  }

  test("concurrent forward requests: correct results, no cross-request bleed") {
    // four distinguishable payloads — different filters and limits, so
    // any cross-request state bleed (settings closure, a shared temp
    // view, a swapped response) shows up as the WRONG body, not a flake
    val payloads = Seq(
      """{"candidates":[{"text":"Monograph Dining"}],"country":"malaysia","limit":3}""",
      """{"candidates":[{"text":"Monograph Dining"}],"limit":1}""",
      """{"candidates":[{"text":"zzz qqq"}],"limit":2}""",
      """{"candidates":[]}""")
    val expected = payloads.map(p => http("POST", "/v1/geocode/forward", p))
    expected.foreach { case (code, body, _) => assert(code == 200, body) }
    assert(Json.parse(expected.head._2).asObj("hits").asArr.nonEmpty)
    assert(Json.parse(expected(2)._2).asObj("hits").asArr.isEmpty)
    val exec = java.util.concurrent.Executors.newFixedThreadPool(16)
    try {
      import scala.concurrent.{Await, ExecutionContext, Future}
      import scala.concurrent.duration._
      implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(exec)
      val storm = (0 until 32).map { i =>
        Future((i % payloads.length, http("POST", "/v1/geocode/forward",
          payloads(i % payloads.length))))
      }
      Await.result(Future.sequence(storm), 120.seconds).foreach {
        case (pi, (code, body, _)) =>
          assert(code == 200, body)
          assert(body == expected(pi)._2,
            s"response for payload $pi diverged under concurrency")
      }
    } finally exec.shutdown()
  }

  test("bulk geocode equals a per-request loop, in request order") {
    val texts = Seq("Monograph Dining", "zzz qqq", "Monograph Dining")
    val (code, body, headers) = http("POST", "/v1/geocode/bulk",
      s"""{"queries":[${texts.map(t => s"""{"text":"$t"}""").mkString(",")}],"limit":3}""")
    assert(code == 200, body)
    assert(headers.contains("Server-Timing"))
    val results = Json.parse(body).asObj("results").asArr.map(_.asObj)
    assert(results.map(_("text").asStr) == texts, "results ride in request order")
    // parity: each entry's hits equal a hint-less single-candidate
    // forward request for the same text
    texts.zip(results).foreach { case (t, r) =>
      val (fc, fb, _) = http("POST", "/v1/geocode/forward",
        s"""{"candidates":[{"text":"$t"}],"limit":3}""")
      assert(fc == 200, fb)
      assert(Json.write(Json.Arr(r("hits").asArr)) ==
        Json.write(Json.Arr(Json.parse(fb).asObj("hits").asArr)),
        s"bulk hits for '$t' diverge from the per-request path")
    }
    assert(results.head("hits").asArr.nonEmpty)
    assert(results(1)("hits").asArr.isEmpty)
  }

  test("bulk malformed body -> 422; wrong method -> 405") {
    val (code, body, _) = http("POST", "/v1/geocode/bulk", """{"nope": []}""")
    assert(code == 422 && body.contains("detail"))
    val (mcode, _, _) = http("GET", "/v1/geocode/bulk")
    assert(mcode == 405)
  }

  test("reverse geocode over HTTP: nearest POI with distance; empty-area point -> null hit") {
    // point right next to the only POI; second point in the open ocean
    val (code, body, _) = http("POST", "/v1/geocode/reverse",
      """{"points":[{"lat": 3.14, "lon": 101.69}, {"lat": -60.0, "lon": -150.0}]}""")
    assert(code == 200, body)
    val results = Json.parse(body).asObj("results").asArr
    assert(results.size == 2)
    val hit = results.head.asObj("hit").asObj
    assert(hit("name").asStr == "Monograph Dining")
    assert(hit("osm_id") match { case Json.Num(d) => d == 1.0; case _ => false })
    assert(hit.get("dist_km").exists { case Json.Num(d) => d >= 0 && d < 2; case _ => false })
    assert(!hit.contains("score"), "reverse hits rank by distance, not score")
    assert(results(1).asObj("hit") == Json.Null)
  }

  test("reverse malformed body -> 422; wrong method -> 405") {
    val (c1, b1, _) = http("POST", "/v1/geocode/reverse", """{"points": "nope"}""")
    assert(c1 == 422 && b1.contains("detail"))
    val (c2, _, _) = http("GET", "/v1/geocode/reverse")
    assert(c2 == 405)
  }

  test("request body over the 1 MiB cap -> 413 with detail, and the connection closes") {
    // raw socket: the client must see the status line AND the server's
    // close (EOF), not a reset or a hang on the unread remainder
    val sock = new java.net.Socket("127.0.0.1", server.boundPort)
    try {
      sock.setSoTimeout(20000)
      val body = ("""{"points":[""" + " " * ScoutServer.MaxBodyBytes + "]}")
        .getBytes(StandardCharsets.UTF_8)
      val out = sock.getOutputStream
      out.write(("POST /v1/geocode/reverse HTTP/1.1\r\nHost: x\r\n" +
        s"Content-Length: ${body.length}\r\n\r\n").getBytes(StandardCharsets.UTF_8))
      out.write(body)
      out.flush()
      val resp = new String(sock.getInputStream.readAllBytes(), StandardCharsets.UTF_8)
      assert(resp.startsWith("HTTP/1.1 413"), resp.take(200))
      assert(resp.contains("detail") && resp.contains("exceeds"), resp)
    } finally sock.close()
    // the 413 path leaves the server healthy, and a body under the cap
    // still parses
    val (code, body, _) = http("POST", "/v1/geocode/reverse",
      """{"points":[{"lat": 3.14, "lon": 101.69}]}""")
    assert(code == 200, body)
  }

  test("non-finite or out-of-range coordinates and a non-integral limit -> 422") {
    def reverse(lat: String, lon: String) = http("POST", "/v1/geocode/reverse",
      s"""{"points":[{"lat": 3.14, "lon": 101.69}, {"lat": $lat, "lon": $lon}]}""")
    for ((lat, lon, field) <- Seq(("1e400", "101.69", "lat"), ("3.14", "-1e400", "lon"),
        ("90.5", "101.69", "lat"), ("-91", "101.69", "lat"),
        ("3.14", "180.01", "lon"), ("3.14", "-181", "lon"))) {
      val (code, body, _) = reverse(lat, lon)
      assert(code == 422 && body.contains(field), s"($lat, $lon): $code $body")
    }
    val (edge, edgeBody, _) = reverse("-90", "180") // the closed bounds are valid
    assert(edge == 200, edgeBody)
    for (limit <- Seq("2.7", "1e12", "-1")) {
      val (code, body, _) = http("POST", "/v1/geocode/forward",
        s"""{"candidates":[{"text":"Monograph Dining"}],"limit":$limit}""")
      assert(code == 422 && body.contains("limit"), s"limit $limit: $code $body")
    }
    val (whole, wholeBody, _) = http("POST", "/v1/geocode/bulk",
      """{"queries":[{"text":"Monograph Dining"}],"limit":3.0}""")
    assert(whole == 200, wholeBody)
    // the OpenAPI document states the same contract
    val spec = Json.parse(http("GET", "/openapi.json")._2).asObj
    val pt = spec("components").asObj("schemas").asObj("ReverseReq").asObj("properties")
      .asObj("points").asObj("items").asObj("properties").asObj
    assert(pt("lat").asObj("maximum").asNum == 90 && pt("lon").asObj("minimum").asNum == -180)
    for (p <- Seq("/v1/geocode/forward", "/v1/geocode/bulk", "/v1/geocode/reverse"))
      assert(spec("paths").asObj(p).asObj("post").asObj("responses").asObj.contains("413"), p)
  }

  test("engine failure -> 500 (a Spark job over a deleted gazetteer dir); a bad body stays 422") {
    val schema = StructType(Seq(
      StructField("id", LongType),
      StructField("name", StringType),
      StructField("tags", MapType(StringType, StringType)),
      StructField("wkt", StringType)))
    val raw = spark.createDataFrame(spark.sparkContext.parallelize(Seq(
      Row(1L, "Monograph Dining", Map("amenity" -> "restaurant"), "POINT(101.6869 3.139)"),
      Row(100L, "Malaysia", Map("boundary" -> "administrative", "admin_level" -> "2"),
        "POLYGON((99.6 0.8, 119.3 0.8, 119.3 7.4, 99.6 7.4, 99.6 0.8))"))), schema)
    val dir = graft.core.TempDirs.create("graft-gone-gaz") + "/gaz"
    GazetteerBuilder.write(spark, raw, dir)
    val eng = ScoutEngine.fromPath(spark, dir)
    val srv = new ScoutServer(eng, port = 0).start()
    try {
      org.apache.hadoop.fs.FileUtil.fullyDelete(new java.io.File(dir))
      // the first reverse derives the snapshot's cell size: a Spark job
      // over the now-missing pois files
      val (code, body, _) = http("POST", "/v1/geocode/reverse",
        """{"points":[{"lat": 3.14, "lon": 101.69}]}""", srv.boundPort)
      assert(code == 500 && Json.parse(body).asObj.contains("detail"), s"$code: $body")
      val (c2, b2, _) = http("POST", "/v1/geocode/reverse",
        """{"points":[{"lat": "x", "lon": 101.69}]}""", srv.boundPort)
      assert(c2 == 422 && b2.contains("bad lat"), s"$c2: $b2")
      val (c3, b3, _) = http("POST", "/v1/geocode/forward",
        """{"candidates":[{"text":"monograph"}],"limit":-1}""", srv.boundPort)
      assert(c3 == 422 && b3.contains("limit"), s"$c3: $b3")
    } finally { srv.stop(); eng.close() }
  }

  test("soak: concurrent forward+reverse over HTTP across a reload and a concurrent index maintain") {
    // the r12 gap: ScoutEngineSpec drives the ENGINE across a reload,
    // but the HTTP layer (thread pool, Server-Timing, JSON codec) had
    // never served a concurrent request storm spanning a snapshot swap
    // AND a concurrent maintenance pass running Spark jobs on the same
    // session. Contract under soak: zero 5xx, and every body equals one
    // snapshot's full answer — never a mix.
    val schema = StructType(Seq(
      StructField("id", LongType),
      StructField("name", StringType),
      StructField("tags", MapType(StringType, StringType)),
      StructField("wkt", StringType)))
    val admin = Row(100L, "Malaysia",
      Map("boundary" -> "administrative", "admin_level" -> "2"),
      "POLYGON((99.6 0.8, 119.3 0.8, 119.3 7.4, 99.6 7.4, 99.6 0.8))")
    def gaz(rows: Seq[Row]) = {
      val raw = spark.createDataFrame(spark.sparkContext.parallelize(rows), schema)
      val p = GazetteerBuilder.buildPois(raw)
      (p, GazetteerBuilder.buildAdmin(raw), graft.etl.TrigramIndex.build(p))
    }
    val (p1, a1, ix1) = gaz(Seq(
      Row(1L, "Monograph Dining", Map("amenity" -> "restaurant"), "POINT(101.6869 3.139)"), admin))
    val (p2, a2, ix2) = gaz(Seq(
      Row(9L, "Monograph Annex", Map("amenity" -> "restaurant"), "POINT(101.69 3.14)"), admin))
    val eng = new ScoutEngine(spark, p1, a1, Settings(), nameIndex = Some(ix1))
    val soak = new ScoutServer(eng, port = 0).start()
    // a text index under maintenance on the SAME SparkSession: base +
    // two appended shards, folded mid-storm
    val idxPath = java.nio.file.Files
      .createTempDirectory("graft-soak-tindex").toString + "/idx"
    import spark.implicits._
    def tdocs(ids: Seq[Long]) = ids
      .map(i => (i, s"fox spark jugs doc$i tok${i % 5}")).toDF("doc_id", "text")
    graft.ext.TextIndex.write(tdocs(0L until 8L), idxPath)
    graft.ext.TextIndex.append(tdocs(8L until 12L), idxPath)
    graft.ext.TextIndex.append(tdocs(12L until 16L), idxPath)
    try {
      val fwdReq = """{"candidates":[{"text":"monograph"}],"country":"malaysia","limit":5}"""
      val revReq = """{"points":[{"lat": 3.14, "lon": 101.69}]}"""
      // legal bodies: v1 now; v2 from a throwaway engine over the same frames
      val fwd1 = http("POST", "/v1/geocode/forward", fwdReq, soak.boundPort)
      val rev1 = http("POST", "/v1/geocode/reverse", revReq, soak.boundPort)
      assert(fwd1._1 == 200 && fwd1._2.contains("Monograph Dining"), fwd1._2)
      assert(rev1._1 == 200 && rev1._2.contains("Monograph Dining"), rev1._2)
      val ref = new ScoutEngine(spark, p2, a2, Settings(), nameIndex = Some(ix2))
      val refSrv = new ScoutServer(ref, port = 0).start()
      val fwd2 = http("POST", "/v1/geocode/forward", fwdReq, refSrv.boundPort)
      val rev2 = http("POST", "/v1/geocode/reverse", revReq, refSrv.boundPort)
      assert(fwd2._2.contains("Monograph Annex"), fwd2._2)
      assert(rev2._2.contains("Monograph Annex"), rev2._2)
      refSrv.stop(); ref.close()
      val legalFwd = Set(fwd1._2, fwd2._2)
      val legalRev = Set(rev1._2, rev2._2)
      // 8 threads, alternating forward/reverse, each sending at least 200
      // requests and going on until the reload and the maintenance pass
      // are over, so both fire while the storm is in flight
      val stormEnd = new java.util.concurrent.atomic.AtomicBoolean(false)
      val bad = new java.util.concurrent.ConcurrentLinkedQueue[String]()
      val seenFwd = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
      val done = new java.util.concurrent.atomic.AtomicInteger(0)
      val threads = (0 until 8).map(t => new Thread(() => {
        try {
          var i = 0
          while (i < 200 || !stormEnd.get) {
            val isFwd = (t + i) % 2 == 0
            val (code, body, _) =
              if (isFwd) http("POST", "/v1/geocode/forward", fwdReq, soak.boundPort)
              else http("POST", "/v1/geocode/reverse", revReq, soak.boundPort)
            if (code != 200) bad.add(s"$code: $body")
            else if (isFwd) {
              seenFwd.add(body)
              if (!legalFwd.contains(body)) bad.add(s"mixed fwd body: $body")
            } else if (!legalRev.contains(body)) bad.add(s"mixed rev body: $body")
            i += 1
          }
          done.incrementAndGet(); ()
        } catch { case e: Throwable => bad.add(s"thread died: $e") }
      }))
      threads.foreach(_.start())
      Thread.sleep(150)
      // the concurrent maintenance pass (its Spark jobs share the session)
      val report = new java.util.concurrent.atomic.AtomicReference[graft.ext.MaintainReport]()
      val maintThread = new Thread(() => {
        try report.set(graft.ext.TextIndex.maintain(spark, idxPath, maxShards = 1))
        catch { case e: Throwable => bad.add(s"maintain died: $e") }
      })
      maintThread.start()
      try { eng.reload(p2, a2, Some(ix2)); maintThread.join(180000) }
      finally stormEnd.set(true)
      threads.foreach(_.join(180000))
      assert(bad.isEmpty, s"soak violations (${bad.size}): ${bad.peek()}")
      assert(done.get() == 8, "every soak thread must finish its 200 requests")
      // post-reload answers actually arrived
      assert(seenFwd.contains(fwd2._2), "no post-reload forward body observed")
      // the maintenance pass really folded, and the index still serves
      // exactly like a from-scratch rebuild
      assert(Option(report.get()).exists(_.action != "none"),
        s"maintain must have folded during the storm: ${report.get()}")
      val reb = java.nio.file.Files
        .createTempDirectory("graft-soak-reb").toString + "/idx"
      graft.ext.TextIndex.write(tdocs(0L until 16L), reb)
      def tserve(p: String) = graft.ext.TextIndex
        .bm25TopK(spark, p, Seq("fox", "spark", "jugs"), 100, 1.2, 0.75)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq
      assert(tserve(idxPath) == tserve(reb),
        "index maintained during the soak must serve like a rebuild")
    } finally { soak.stop(); eng.close() }
  }

  test("chaos soak: maintainer KILLED mid-fold under the request storm; retry converges") {
    // composes the soak with the crash-fuzz model (VERDICT r13 task 6):
    // the maintenance pass dies at a protocol-level kill point while
    // HTTP requests are in flight — serving must never notice (zero
    // non-200s, no mixed bodies), and a disarmed maintain() afterwards
    // must converge the index to rebuild-equivalent serving.
    val schema = StructType(Seq(
      StructField("id", LongType),
      StructField("name", StringType),
      StructField("tags", MapType(StringType, StringType)),
      StructField("wkt", StringType)))
    val rows = Seq(
      Row(1L, "Monograph Dining", Map("amenity" -> "restaurant"),
        "POINT(101.6869 3.139)"),
      Row(100L, "Malaysia",
        Map("boundary" -> "administrative", "admin_level" -> "2"),
        "POLYGON((99.6 0.8, 119.3 0.8, 119.3 7.4, 99.6 7.4, 99.6 0.8))"))
    val raw = spark.createDataFrame(spark.sparkContext.parallelize(rows), schema)
    val pois = GazetteerBuilder.buildPois(raw)
    val eng = new ScoutEngine(spark, pois, GazetteerBuilder.buildAdmin(raw),
      Settings(),
      nameIndex = Some(graft.etl.TrigramIndex.build(pois)))
    val srv = new ScoutServer(eng, port = 0).start()
    val idxPath = java.nio.file.Files
      .createTempDirectory("graft-chaos-tindex").toString + "/idx"
    import spark.implicits._
    def tdocs(ids: Seq[Long]) = ids
      .map(i => (i, s"fox spark jugs doc$i tok${i % 5}")).toDF("doc_id", "text")
    graft.ext.TextIndex.write(tdocs(0L until 8L), idxPath)
    graft.ext.TextIndex.append(tdocs(8L until 12L), idxPath)
    graft.ext.TextIndex.append(tdocs(12L until 16L), idxPath)
    try {
      val fwdReq = """{"candidates":[{"text":"monograph"}],"country":"malaysia","limit":5}"""
      val revReq = """{"points":[{"lat": 3.14, "lon": 101.69}]}"""
      val fwd1 = http("POST", "/v1/geocode/forward", fwdReq, srv.boundPort)
      val rev1 = http("POST", "/v1/geocode/reverse", revReq, srv.boundPort)
      assert(fwd1._1 == 200 && rev1._1 == 200)
      // the storm goes on until the maintenance passes are over
      val stormEnd = new java.util.concurrent.atomic.AtomicBoolean(false)
      val bad = new java.util.concurrent.ConcurrentLinkedQueue[String]()
      val done = new java.util.concurrent.atomic.AtomicInteger(0)
      val threads = (0 until 8).map(t => new Thread(() => {
        try {
          var i = 0
          while (i < 200 || !stormEnd.get) {
            val isFwd = (t + i) % 2 == 0
            val (code, body, _) =
              if (isFwd) http("POST", "/v1/geocode/forward", fwdReq, srv.boundPort)
              else http("POST", "/v1/geocode/reverse", revReq, srv.boundPort)
            if (code != 200) bad.add(s"$code: $body")
            else if (isFwd && body != fwd1._2) bad.add(s"mixed fwd body: $body")
            else if (!isFwd && body != rev1._2) bad.add(s"mixed rev body: $body")
            i += 1
          }
          done.incrementAndGet(); ()
        } catch { case e: Throwable => bad.add(s"thread died: $e") }
      }))
      threads.foreach(_.start())
      val report = try {
        Thread.sleep(100)
        // two maintain passes die at different protocol points (an early
        // one inside the claim/publish chain, a later one near the
        // commit) while the storm is in flight
        for (k <- Seq(2, 6)) {
          val crashed = graft.ext.CrashSeam.crashedAt(k) {
            graft.ext.TextIndex.maintain(spark, idxPath, maxShards = 1)
          }
          assert(crashed, s"kill point $k was not reached — seam detached?")
        }
        // disarmed retry: must run to a real fold and converge
        graft.ext.TextIndex.maintain(spark, idxPath, maxShards = 1)
      } finally stormEnd.set(true)
      assert(report.action != "none",
        s"post-crash maintain must still fold: $report")
      threads.foreach(_.join(180000))
      assert(bad.isEmpty, s"chaos violations (${bad.size}): ${bad.peek()}")
      assert(done.get() == 8, "every storm thread must finish its 200 requests")
      // post-recovery serving is rebuild-equivalent
      val reb = java.nio.file.Files
        .createTempDirectory("graft-chaos-reb").toString + "/idx"
      graft.ext.TextIndex.write(tdocs(0L until 16L), reb)
      def tserve(p: String) = graft.ext.TextIndex
        .bm25TopK(spark, p, Seq("fox", "spark", "jugs"), 100, 1.2, 0.75)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq
      assert(tserve(idxPath) == tserve(reb),
        "index after crash + recovery must serve like a rebuild")
    } finally { srv.stop(); eng.close() }
  }

  test("chaos soak: gazetteer refreshDelta + reload + KILLED maintainSnapshots under the request storm") {
    // round-18 (r17 VERDICT task 5): the partitioned-gazetteer refresh
    // journey under the full storm — a refreshDelta publishes and the
    // engine reloads to it mid-storm, a maintainSnapshots (with its
    // fold) races the requests, and one maintenance pass is KILLED at a
    // protocol point. Contract: zero non-200s, every body from exactly
    // one snapshot, serving ≡ the CDC-applied rebuild after recovery.
    val schema = StructType(Seq(
      StructField("id", LongType),
      StructField("name", StringType),
      StructField("tags", MapType(StringType, StringType)),
      StructField("wkt", StringType)))
    val admin = Row(100L, "Malaysia",
      Map("boundary" -> "administrative", "admin_level" -> "2"),
      "POLYGON((99.6 0.8, 119.3 0.8, 119.3 7.4, 99.6 7.4, 99.6 0.8))")
    val baseRows = Seq(
      Row(1L, "Monograph Dining", Map("amenity" -> "restaurant"), "POINT(101.6869 3.139)"),
      Row(2L, "Monogram Cafe", Map("amenity" -> "cafe"), "POINT(101.71 3.15)"),
      admin)
    val raw = spark.createDataFrame(spark.sparkContext.parallelize(baseRows), schema)
    val root = graft.core.TempDirs.create("graft-chaosgaz-") + "/gaz"
    GazetteerBuilder.writeVersionedPartitioned(spark, raw, root, targetParts = 2)
    val eng = ScoutEngine.fromPath(spark,
      graft.ext.VersionedStore.resolveCurrent(spark, root))
    val srv = new ScoutServer(eng, port = 0).start()
    try {
      val fwdReq = """{"candidates":[{"text":"monograph"}],"country":"malaysia","limit":5}"""
      val revReq = """{"points":[{"lat": 3.14, "lon": 101.69}]}"""
      val fwd1 = http("POST", "/v1/geocode/forward", fwdReq, srv.boundPort)
      val rev1 = http("POST", "/v1/geocode/reverse", revReq, srv.boundPort)
      assert(fwd1._1 == 200 && fwd1._2.contains("Monograph Dining"), fwd1._2)
      assert(rev1._1 == 200 && rev1._2.contains("Monograph Dining"), rev1._2)
      // v2 reference: throwaway engine over the CDC-applied corpus (the
      // delta journey must serve exactly this — g16's oracle contract)
      val feed = spark.createDataFrame(spark.sparkContext.parallelize(Seq(
          Row(1L, "Monograph Dining Annex", Map("amenity" -> "restaurant"),
            "POINT(101.6869 3.139)"))), schema)
        .withColumn("op", org.apache.spark.sql.functions.lit("U"))
      val applied = graft.ext.Cdc.applyChanges(raw, feed, "id")
      val p2 = GazetteerBuilder.buildPois(applied)
      val ref = new ScoutEngine(spark, p2, GazetteerBuilder.buildAdmin(applied),
        Settings(),
        nameIndex = Some(graft.etl.TrigramIndex.build(p2)))
      val refSrv = new ScoutServer(ref, port = 0).start()
      val fwd2 = http("POST", "/v1/geocode/forward", fwdReq, refSrv.boundPort)
      val rev2 = http("POST", "/v1/geocode/reverse", revReq, refSrv.boundPort)
      assert(fwd2._2.contains("Monograph Dining Annex"), fwd2._2)
      refSrv.stop(); ref.close()
      val legalFwd = Set(fwd1._2, fwd2._2)
      val legalRev = Set(rev1._2, rev2._2)
      // the storm goes on until the last reload is over
      val stormEnd = new java.util.concurrent.atomic.AtomicBoolean(false)
      val bad = new java.util.concurrent.ConcurrentLinkedQueue[String]()
      val seenFwd = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
      val done = new java.util.concurrent.atomic.AtomicInteger(0)
      val threads = (0 until 8).map(t => new Thread(() => {
        try {
          var i = 0
          while (i < 200 || !stormEnd.get) {
            val isFwd = (t + i) % 2 == 0
            val (code, body, _) =
              if (isFwd) http("POST", "/v1/geocode/forward", fwdReq, srv.boundPort)
              else http("POST", "/v1/geocode/reverse", revReq, srv.boundPort)
            if (code != 200) bad.add(s"$code: $body")
            else if (isFwd) {
              seenFwd.add(body)
              if (!legalFwd.contains(body)) bad.add(s"mixed fwd body: $body")
            } else if (!legalRev.contains(body)) bad.add(s"mixed rev body: $body")
            i += 1
          }
          done.incrementAndGet(); ()
        } catch { case e: Throwable => bad.add(s"thread died: $e") }
      }))
      threads.foreach(_.start())
      try {
        Thread.sleep(150)
        // 1. the CDC refresh publishes and the engine tracks it mid-storm
        GazetteerBuilder.refreshDelta(spark, root, feed)
        eng.reloadFrom(graft.ext.VersionedStore.resolveCurrent(spark, root))
        // 2. a maintenance pass is KILLED at a protocol point mid-storm —
        // serving must never notice (the writer lock releases on the way
        // out; the fold's crash windows leave old-or-new, never torn)
        val crashed = graft.ext.CrashSeam.crashedAt(4) {
          GazetteerBuilder.maintainSnapshots(spark, root, keepLast = 2, maxShards = 1)
        }
        assert(crashed, "kill point 4 was not reached — seam detached?")
        // 3. the disarmed retry completes the maintenance; the engine
        // reloads onto the republished (post-fold pin) snapshot
        GazetteerBuilder.maintainSnapshots(spark, root, keepLast = 2, maxShards = 1)
        eng.reloadFrom(graft.ext.VersionedStore.resolveCurrent(spark, root))
      } finally stormEnd.set(true)
      threads.foreach(_.join(180000))
      assert(bad.isEmpty, s"chaos violations (${bad.size}): ${bad.peek()}")
      assert(done.get() == 8, "every storm thread must finish its 200 requests")
      assert(seenFwd.contains(fwd2._2), "no post-refresh forward body observed")
      // post-recovery: the maintained snapshot serves exactly the
      // CDC-applied rebuild's answers (both routes)
      val fwdEnd = http("POST", "/v1/geocode/forward", fwdReq, srv.boundPort)
      val revEnd = http("POST", "/v1/geocode/reverse", revReq, srv.boundPort)
      assert(fwdEnd._2 == fwd2._2,
        s"post-maintenance forward diverged from the rebuild: ${fwdEnd._2}")
      assert(revEnd._2 == rev2._2,
        s"post-maintenance reverse diverged from the rebuild: ${revEnd._2}")
    } finally { srv.stop(); eng.close() }
  }

  test("ServeMain over a versioned root follows CURRENT: a refreshDelta publish reaches HTTP with no /reload") {
    val schema = StructType(Seq(
      StructField("id", LongType),
      StructField("name", StringType),
      StructField("tags", MapType(StringType, StringType)),
      StructField("wkt", StringType)))
    def rawOf(rows: (Long, String)*) = spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map { case (id, name) =>
        Row(id, name, Map("amenity" -> "cafe", "name" -> name),
          s"POINT(${id % 50} ${id % 30})")
      }), schema)
    val root = graft.core.TempDirs.create("graft-servefollow-") + "/gaz"
    GazetteerBuilder.writeVersionedPartitioned(spark,
      rawOf((1L to 12L).map(i => i -> s"stall number $i"): _*), root,
      targetParts = 2)
    val (srv, follower, eng) = ServeMain.launch(spark, root, port = 0)
    try {
      assert(follower.isDefined, "a versioned root must start the follower")
      val req = """{"candidates":[{"text":"stall number 3"}],"limit":3}"""
      val (c0, b0, _) = http("POST", "/v1/geocode/forward", req, srv.boundPort)
      assert(c0 == 200 && b0.contains("stall number 3"))
      // publish side: one CDC batch renames id 3 and flips CURRENT
      GazetteerBuilder.refreshDelta(spark, root,
        rawOf((3L, "followed stall")).withColumn(
          "op", org.apache.spark.sql.functions.lit("U")))
      val fReq = """{"candidates":[{"text":"followed stall"}],"limit":3}"""
      val deadline = System.currentTimeMillis() + 30000L
      var served = false
      while (!served && System.currentTimeMillis() < deadline) {
        val (c, b, _) = http("POST", "/v1/geocode/forward", fReq, srv.boundPort)
        served = c == 200 && b.contains("followed stall")
        if (!served) Thread.sleep(200)
      }
      assert(served, "the follower never surfaced the published refresh over HTTP")
    } finally { follower.foreach(_.close()); srv.stop(); eng.close() }
  }

  test("ServeMain over a plain snapshot dir serves as-is, no follower") {
    val demoDir = graft.core.TempDirs.create("graft-serveplain-")
    val schema = StructType(Seq(
      StructField("id", LongType),
      StructField("name", StringType),
      StructField("tags", MapType(StringType, StringType)),
      StructField("wkt", StringType)))
    val raw = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(
        Row(1L, "Plain Cafe", Map("amenity" -> "cafe", "name" -> "Plain Cafe"),
          "POINT(1 1)"))), schema)
    GazetteerBuilder.write(spark, raw, demoDir)
    val (srv, follower, eng) = ServeMain.launch(spark, demoDir, port = 0)
    try {
      assert(follower.isEmpty, "a plain dir must not start a follower")
      val (c, b, _) = http("POST", "/v1/geocode/forward",
        """{"candidates":[{"text":"plain cafe"}],"limit":3}""", srv.boundPort)
      assert(c == 200 && b.contains("Plain Cafe"))
    } finally { srv.stop(); eng.close() }
  }

  test("json codec round-trips escapes") {
    val v = Json.parse("""{"a": "line\nbreak \"q\" é", "n": [1, 2.5, -3e2], "b": true, "x": null}""")
    val round = Json.parse(Json.write(v))
    assert(round == v)
    assert(v.asObj("a").asStr == "line\nbreak \"q\" é")
    assert(v.asObj("n").asArr.map(_.asNum) == Seq(1.0, 2.5, -300.0))
  }
}

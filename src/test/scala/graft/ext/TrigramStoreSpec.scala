package graft.ext

import graft.SparkSpec
import org.apache.spark.sql.{DataFrame, Row, SaveMode}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The shard-protocol trigram store ([[TrigramStore]]): live-view
  * equality with the bulk artifact, watermark semantics for updates
  * (the duplicate-free contract the exact-count probe depends on),
  * crash inertness of uncommitted watermarks, snapshot pins, and the
  * fold. */
class TrigramStoreSpec extends SparkSpec {

  private val schema = StructType(Seq(
    StructField("osm_id", LongType),
    StructField("name_local_norm", StringType),
    StructField("name_en_norm", StringType)))

  private def pois(rows: (Long, String, String)*): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map(r => Row(r._1, r._2, r._3))),
      schema)

  private def tmp(): String = graft.core.TempDirs.create("graft-trigstore-")

  private def postingSet(df: DataFrame): Set[(String, Int, Long)] =
    df.collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2))).toSet

  test("write + postings equals the bulk artifact") {
    val p = pois((1L, "monograph dining", "monograph"), (2L, "blue bottle", null))
    val path = tmp() + "/ix"
    TrigramStore.write(p, path)
    assert(postingSet(TrigramStore.postings(spark, path)) ==
      postingSet(graft.etl.TrigramIndex.build(p)))
  }

  test("append supersedes the upserted ids' old postings — no duplicates, rebuild equality") {
    val base = pois((1L, "old cafe", null), (2L, "stable name", null))
    val path = tmp() + "/ix"
    TrigramStore.write(base, path)
    // rename id 1, insert id 3
    val delta = pois((1L, "renamed cafe", null), (3L, "fresh bakery", null))
    TrigramStore.append(delta, path)
    val after = pois((1L, "renamed cafe", null), (2L, "stable name", null),
      (3L, "fresh bakery", null))
    val live = TrigramStore.postings(spark, path)
    assert(postingSet(live) == postingSet(graft.etl.TrigramIndex.build(after)),
      "live view must equal a bulk rebuild over the updated pois")
    // the probe's exact-count contract: no (gram, col, id) duplicates
    val dups = live.groupBy("gram", "col_id", "osm_id")
      .agg(count(lit(1)).as("n")).filter(col("n") > 1).count()
    assert(dups == 0L, "duplicate postings would turn the exact-count probe into false negatives")
  }

  test("append with caller-held upsertIds serves identically (and kills stale gramless ids)") {
    // the read-back-skipping hint route (refreshDelta's bounded feed)
    val base = pois((1L, "old cafe", null), (2L, "stable name", null))
    val path = tmp() + "/ix"
    TrigramStore.write(base, path)
    val delta = pois((1L, "renamed cafe", null), (3L, "fresh bakery", null))
    TrigramStore.append(delta, path, deleteIds = Seq(2L),
      upsertIds = Some(Seq(1L, 3L)))
    val after = pois((1L, "renamed cafe", null), (3L, "fresh bakery", null))
    assert(postingSet(TrigramStore.postings(spark, path)) ==
      postingSet(graft.etl.TrigramIndex.build(after)))
    // an id whose new name yields NO grams: the hinted watermark still
    // supersedes the old postings (stricter than the read-back route)
    TrigramStore.append(pois((1L, "ab", null)), path, upsertIds = Some(Seq(1L)))
    val finallyLive = pois((1L, "ab", null), (3L, "fresh bakery", null))
    assert(postingSet(TrigramStore.postings(spark, path)) ==
      postingSet(graft.etl.TrigramIndex.build(finallyLive)))
  }

  test("delete watermarks remove an id everywhere; a later re-append serves it again") {
    val base = pois((1L, "doomed diner", null), (2L, "survivor", null))
    val path = tmp() + "/ix"
    TrigramStore.write(base, path)
    TrigramStore.delete(spark, path, Seq(1L))
    assert(postingSet(TrigramStore.postings(spark, path)) ==
      postingSet(graft.etl.TrigramIndex.build(pois((2L, "survivor", null)))))
    // re-crawl of a deleted id: the re-append's own watermark is newer
    TrigramStore.append(pois((1L, "reborn diner", null)), path)
    val after = pois((1L, "reborn diner", null), (2L, "survivor", null))
    assert(postingSet(TrigramStore.postings(spark, path)) ==
      postingSet(graft.etl.TrigramIndex.build(after)))
  }

  test("a watermark naming an UNCOMMITTED shard is inert (crash ordering)") {
    val base = pois((1L, "old cafe", null))
    val path = tmp() + "/ix"
    TrigramStore.write(base, path)
    // simulate the append crash window: watermark published, marker
    // never landed — shard 99 does not exist in commits
    import spark.implicits._
    val staging = IndexIO.shardStagingFor(s"$path/deletes")
    Seq((1L, 99L)).toDF("osm_id", "below").coalesce(1)
      .write.mode(SaveMode.Overwrite).parquet(staging)
    IndexIO.publishShard(spark, staging, s"$path/deletes/shard=0")
    assert(postingSet(TrigramStore.postings(spark, path)) ==
      postingSet(graft.etl.TrigramIndex.build(base)),
      "a watermark for a shard that never committed must not subtract anything")
  }

  test("pins freeze the served state; fold + gc fails pinned reads LOUDLY") {
    val base = pois((1L, "old cafe", null), (2L, "stable name", null))
    val path = tmp() + "/ix"
    TrigramStore.write(base, path)
    val pin0 = TrigramStore.pinNow(spark, path)
    TrigramStore.append(pois((1L, "renamed cafe", null)), path)
    // the pre-append pin still serves the pre-append state (rollback)
    assert(postingSet(TrigramStore.postingsPinned(spark, path, pin0)) ==
      postingSet(graft.etl.TrigramIndex.build(base)))
    val pin1 = TrigramStore.pinNow(spark, path)
    val liveBefore = postingSet(TrigramStore.postings(spark, path))
    val folded = TrigramStore.compactAll(spark, path)
    TrigramStore.gcUnpinned(spark, path, pins = Nil)
    assert(folded.nonEmpty)
    assert(postingSet(TrigramStore.postings(spark, path)) == liveBefore,
      "fold must not change the served rows")
    assert(IndexIO.shardIds(spark, s"$path/deletes").isEmpty,
      "fold-all applies and clears every observed watermark")
    // both pre-fold pins name folded-away shards: loud, never partial
    val e = intercept[java.io.IOException] {
      TrigramStore.postingsPinned(spark, path, pin1)
    }
    assert(e.getMessage.contains("no longer exist"))
    intercept[java.io.IOException] {
      TrigramStore.postingsPinned(spark, path, pin0)
    }
  }

  test("delete → re-append → DEFERRED fold: the id keeps serving (round-18 HIGH fix)") {
    // the failure mode: after a deferred compactAll the
    // re-append watermark (id, K) names a REPLACES-hidden shard; an
    // inert-check keyed on the SERVING set (instead of marker
    // existence) filters it out, the older (id, MaxValue) delete wins
    // the recency max, and the fold-kept postings silently vanish
    val base = pois((1L, "phoenix cafe", null), (2L, "bystander", null))
    val path = tmp() + "/ix"
    TrigramStore.write(base, path)
    TrigramStore.delete(spark, path, Seq(1L))
    TrigramStore.append(pois((1L, "phoenix reborn", null)), path)
    val expect = postingSet(graft.etl.TrigramIndex.build(
      pois((1L, "phoenix reborn", null), (2L, "bystander", null))))
    assert(postingSet(TrigramStore.postings(spark, path)) == expect)
    TrigramStore.compactAll(spark, path)
    // deferred fold: watermark shards and folded markers stay on disk —
    // the LIVE read must re-apply them as a no-op, not a false negative
    assert(postingSet(TrigramStore.postings(spark, path)) == expect,
      "re-appended id dropped by a stale watermark after the deferred fold")
    // and the NEXT snapshot's pin (what a refresh after maintenance
    // records) serves the same rows
    val pin = TrigramStore.pinNow(spark, path)
    assert(pin.deletes.isEmpty,
      "pinNow must subtract fold-applied watermark shards")
    assert(postingSet(TrigramStore.postingsPinned(spark, path, pin)) == expect)
  }

  test("compactSmall: watermark-exact partial fold — small shards fold, markers and watermarks stay") {
    val base = pois((1L to 50L).map(i => (i, s"poi number $i", null: String)): _*)
    val path = tmp() + "/ix"
    TrigramStore.write(base, path) // one big shard 0
    TrigramStore.append(pois((1L, "renamed one", null)), path)  // small shard 1
    TrigramStore.delete(spark, path, Seq(2L))
    TrigramStore.append(pois((51L, "fresh fifty-one", null)), path) // small shard 2
    val expect = postingSet(graft.etl.TrigramIndex.build(
      pois(Seq((1L, "renamed one", null: String), (51L, "fresh fifty-one", null: String)) ++
        (3L to 50L).map(i => (i, s"poi number $i", null: String)): _*)))
    assert(postingSet(TrigramStore.postings(spark, path)) == expect)
    val big = IndexIO.dirBytes(spark, s"$path/postings/shard=0")
    val folded = TrigramStore.compactSmall(spark, path, big - 1)
    assert(folded.sorted == Seq(1, 2), s"only the small tail folds: $folded")
    assert(postingSet(TrigramStore.postings(spark, path)) == expect,
      "partial fold changed the served rows")
    // the un-folded shard 0 still holds rows the watermarks suppress —
    // watermark shards must survive a partial fold
    assert(IndexIO.shardIds(spark, s"$path/deletes").nonEmpty,
      "compactSmall must never clear watermark shards")
    // folded markers survive too (a marker's existence keeps the
    // re-append watermark (1, shard1) valid)
    assert(IndexIO.shardIds(spark, s"$path/commits").contains(1),
      "folded shard markers must stay while watermarks reference them")
    // a later re-append + full fold still converges
    TrigramStore.append(pois((2L, "second life", null)), path)
    TrigramStore.compactAll(spark, path)
    assert(postingSet(TrigramStore.postings(spark, path)) ==
      postingSet(graft.etl.TrigramIndex.build(
        pois(Seq((1L, "renamed one", null: String), (2L, "second life", null: String),
          (51L, "fresh fifty-one", null: String)) ++
          (3L to 50L).map(i => (i, s"poi number $i", null: String)): _*))))
  }

  test("maintain: shard count converges under a crawl loop; dead mass triggers the full fold") {
    val path = tmp() + "/ix"
    TrigramStore.write(pois((1L to 20L).map(i =>
      (i, s"poi number $i", null: String)): _*), path)
    // a long refresh loop: one rename batch per generation, maintain
    // after each — live shard count must stay bounded with serve
    // equality throughout
    var names = (1L to 20L).map(i => i -> s"poi number $i").toMap
    for (g <- 1 to 7) {
      val id = (g % 20) + 1L
      names += id -> s"poi generation $g"
      TrigramStore.append(pois((id, names(id), null)), path)
      val rep = TrigramStore.maintain(spark, path, maxShards = 3)
      assert(IndexIO.liveCommittedIds(spark, path).size <= 3,
        s"gen $g: shard count must stay <= maxShards (report $rep)")
      assert(postingSet(TrigramStore.postings(spark, path)) ==
        postingSet(graft.etl.TrigramIndex.build(
          pois(names.toSeq.map { case (i, n) => (i, n, null: String) }: _*))),
        s"gen $g: serve equality broken")
    }
    // mass takedown: dead fraction crosses the bar → the policy picks
    // the FULL fold and the watermark shards clear
    TrigramStore.delete(spark, path, (1L to 15L))
    val rep = TrigramStore.maintain(spark, path, maxShards = 3,
      tombstoneFrac = 0.3)
    TrigramStore.gcUnpinned(spark, path, pins = Nil)
    assert(rep.action == "compact", s"expected the dead-mass route: $rep")
    assert(IndexIO.shardIds(spark, s"$path/deletes").isEmpty,
      "the immediate-mode full fold clears applied watermarks")
    names --= (1L to 15L)
    assert(postingSet(TrigramStore.postings(spark, path)) ==
      postingSet(graft.etl.TrigramIndex.build(
        pois(names.toSeq.map { case (i, n) => (i, n, null: String) }: _*))))
  }

  test("gcUnpinned: applied watermarks retire, PENDING ones survive (the _APPLIED guard)") {
    val path = tmp() + "/ix"
    TrigramStore.write(pois((1L, "alpha site", null), (2L, "beta site", null)), path)
    TrigramStore.append(pois((1L, "alpha renamed", null)), path) // wm (1, s1)
    TrigramStore.compactAll(spark, path)                         // applies + defers
    // a delete landing AFTER the fold is pending — a standalone gc
    // sweep must not reclaim it (that would resurrect id 2)
    TrigramStore.delete(spark, path, Seq(2L))
    TrigramStore.gcUnpinned(spark, path, pins = Nil)
    val expect = postingSet(graft.etl.TrigramIndex.build(
      pois((1L, "alpha renamed", null))))
    assert(postingSet(TrigramStore.postings(spark, path)) == expect,
      "gcUnpinned reclaimed a pending watermark and resurrected a deleted id")
    // the fold-applied watermark shard DID retire
    assert(IndexIO.shardIds(spark, s"$path/deletes").size == 1,
      "the applied watermark shard must be reclaimed")
    // and the folded-away postings shards are gone (unpinned)
    assert(IndexIO.shardIds(spark, s"$path/postings") ==
      IndexIO.liveCommittedIds(spark, path),
      "unpinned folded postings must be reclaimed")
  }

  test("a crashed append's marker-less postings shard is reclaimed by the next fold") {
    val base = pois((1L, "old cafe", null), (2L, "stable name", null))
    val path = tmp() + "/ix"
    TrigramStore.write(base, path)
    val served = postingSet(TrigramStore.postings(spark, path))
    // the crash window between the postings publish and the marker: an
    // expired claim (writer timestamp 0) and its published postings shard
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val claim = fs.create(new org.apache.hadoop.fs.Path(s"$path/claims/shard=5/CLAIM"))
    try claim.writeBytes("crashed-appender\n0\n") finally claim.close()
    graft.etl.TrigramIndex.build(pois((9L, "ghost diner", null))).coalesce(1)
      .write.mode(SaveMode.Overwrite).parquet(s"$path/postings/shard=5")
    assert(postingSet(TrigramStore.postings(spark, path)) == served)
    TrigramStore.compactAll(spark, path)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$path/postings/shard=5")),
      "an uncommitted postings shard with no live lease must be reclaimed")
    assert(postingSet(TrigramStore.postings(spark, path)) == served)
  }

  test("format gate inherited: a future-format store refuses this binary's mutations") {
    val path = tmp() + "/ix"
    IndexIO.formatOverride = Some(2)
    try TrigramStore.write(pois((1L, "future cafe", null)), path)
    finally IndexIO.formatOverride = None
    IndexIO.resetCachesForTest()
    val e = intercept[java.io.IOException] {
      TrigramStore.append(pois((2L, "straggler", null)), path)
    }
    assert(e.getMessage.contains("newer"))
    val e2 = intercept[java.io.IOException] {
      TrigramStore.delete(spark, path, Seq(1L))
    }
    assert(e2.getMessage.contains("newer"))
  }
}

package graft.etl

import graft.SparkSpec
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Delta-proportional gazetteer refresh (round 17): the partitioned
  * versioned layout ([[GazetteerBuilder.writeVersionedPartitioned]] /
  * [[GazetteerBuilder.refreshDelta]]) must (1) equal a full rebuild,
  * (2) leave untouched pool generations physically untouched — the
  * cost ∝ |delta| claim, (3) roll back by pointer flip including the
  * pinned trigram state, and (4) reclaim unreferenced generations. */
class GazetteerDeltaSpec extends SparkSpec {

  private val rawSchema = StructType(Seq(
    StructField("id", LongType),
    StructField("name", StringType),
    StructField("tags", MapType(StringType, StringType)),
    StructField("wkt", StringType)))

  private def raw(rows: (Long, String)*): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map { case (id, name) =>
        Row(id, name, Map("amenity" -> "cafe", "name" -> name),
          s"POINT(${id % 50} ${id % 30})")
      }), rawSchema)

  private def feed(rows: (Long, String, String)*): DataFrame =
    raw(rows.map(r => (r._1, r._2)): _*)
      .withColumn("op",
        element_at(typedLit(rows.map(r => r._1 -> r._3).toMap), col("id")))

  private def poiSet(df: DataFrame): Set[(Long, String)] =
    df.select("osm_id", "name_local").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet

  // ids spread across several pk ranges (targetParts=4 over max id 40)
  private val baseRows: Seq[(Long, String)] =
    (1L to 40L).map(i => i -> s"cafe number $i")

  test("refreshDelta equals a full rebuild over the CDC-applied corpus") {
    val root = graft.core.TempDirs.create("graft-gazdelta-") + "/gaz"
    GazetteerBuilder.writeVersionedPartitioned(spark, raw(baseRows: _*), root,
      targetParts = 4)
    val changes = feed((3L, "renamed three", "U"), (7L, "", "D"),
      (41L, "new fortyone", "I"))
    GazetteerBuilder.refreshDelta(spark, root, changes)
    val resolved = graft.ext.VersionedStore.resolveCurrent(spark, root)
    val delta = poiSet(GazetteerBuilder.readPois(spark, resolved))

    val applied = graft.ext.Cdc.applyChanges(raw(baseRows: _*), changes, "id")
    assert(delta == poiSet(GazetteerBuilder.buildPois(applied)))
    assert(delta.contains((3L, "renamed three")))
    assert(delta.contains((41L, "new fortyone")))
    assert(!delta.exists(_._1 == 7L))
  }

  test("untouched partitions carry forward by reference — not rewritten") {
    val root = graft.core.TempDirs.create("graft-gazdelta-") + "/gaz"
    GazetteerBuilder.writeVersionedPartitioned(spark, raw(baseRows: _*), root,
      targetParts = 4)
    val v1 = graft.ext.VersionedStore.resolveCurrent(spark, root)
    val m1 = GazetteerBuilder.readManifest(spark, v1).get
    // delta confined to one id range
    GazetteerBuilder.refreshDelta(spark, root, feed((3L, "renamed three", "U")))
    val v2 = graft.ext.VersionedStore.resolveCurrent(spark, root)
    val m2 = GazetteerBuilder.readManifest(spark, v2).get
    assert(m1.pkWidth == m2.pkWidth)
    val touchedPk = 3L / m1.pkWidth
    assert(m2.parts(touchedPk) != m1.parts(touchedPk),
      "the touched partition must get a fresh generation")
    val untouched = m1.parts.keySet - touchedPk
    assert(untouched.nonEmpty, "fixture must span several partitions")
    for (k <- untouched)
      assert(m2.parts(k) == m1.parts(k),
        s"untouched pk=$k must keep its generation (cost ∝ delta)")
  }

  test("rollback is a pointer flip — pois AND the pinned trigram state") {
    val root = graft.core.TempDirs.create("graft-gazdelta-") + "/gaz"
    GazetteerBuilder.writeVersionedPartitioned(spark, raw(baseRows: _*), root,
      targetParts = 4)
    val v1 = graft.ext.VersionedStore.resolveCurrent(spark, root)
    GazetteerBuilder.refreshDelta(spark, root,
      feed((3L, "renamed three", "U"), (7L, "", "D")))
    val v2 = graft.ext.VersionedStore.resolveCurrent(spark, root)
    assert(v2 != v1)
    // the serving engine reloads the OLD version dir: old pois, old pins
    val eng = graft.query.ScoutEngine.fromPath(spark, v1)
    // forwardFast reads the bound trigram index (forwardDF scans pois).
    // "cafe number" and not "cafe number 3": a one-character token is
    // below the trigram size, so such a request never reads the index;
    // limit 50 returns every cafe the index holds
    val req = graft.query.ForwardReq(
      Seq(graft.query.ForwardCandidate("cafe number")), limit = 50)
    val hits = eng.forwardFast(req)
    assert(hits.isDefined, "v1's pinned index must serve the request")
    assert(hits.get.exists(_.name == "cafe number 3"),
      "v1 must serve the pre-delta name through its pinned index")
    val eng2 = graft.query.ScoutEngine.fromPath(spark, v2)
    val hits2 = eng2.forwardFast(graft.query.ForwardReq(
      Seq(graft.query.ForwardCandidate("renamed three")), limit = 3))
    assert(hits2.isDefined, "v2's pinned index must serve the request")
    assert(hits2.get.exists(_.name == "renamed three"),
      "v2 must serve the renamed poi through the appended index shard")
    val hits3 = eng2.forwardFast(req)
    assert(hits3.isDefined, "v2's pinned index must serve the request")
    assert(hits3.get.nonEmpty && hits3.get.forall(_.osmId != 7L),
      "v2 must not serve the deleted poi")
  }

  test("maintainSnapshots: pin-safe fold — serving never breaks, history reclaimed after retention") {
    val root = graft.core.TempDirs.create("graft-gazdelta-") + "/gaz"
    GazetteerBuilder.writeVersionedPartitioned(spark, raw(baseRows: _*), root,
      targetParts = 4)
    GazetteerBuilder.refreshDelta(spark, root, feed((3L, "renamed three", "U")))
    GazetteerBuilder.refreshDelta(spark, root, feed((7L, "", "D")))
    val preMaint = graft.ext.VersionedStore.resolveCurrent(spark, root)
    val preSet = poiSet(GazetteerBuilder.readPois(spark, preMaint))
    val preIx = GazetteerBuilder.readNameIndex(spark, preMaint).get.count()

    // maxShards = 1 forces the fold this test exercises (the policy
    // would otherwise decide "none" at 3 healthy shards — covered below)
    val published = GazetteerBuilder.maintainSnapshots(spark, root, keepLast = 2,
      maxShards = 1)
    // the republished snapshot serves identically (pois untouched, the
    // folded index pinned fresh)
    assert(poiSet(GazetteerBuilder.readPois(spark, published)) == preSet)
    assert(GazetteerBuilder.readNameIndex(spark, published).get.count() == preIx,
      "post-fold pinned index must serve the same live postings")
    // the PRE-MAINTENANCE snapshot still resolves through its pins —
    // the fold deferred its deletes (pin-safe), and keepLast=2 retains it
    assert(poiSet(GazetteerBuilder.readPois(spark, preMaint)) == preSet)
    assert(GazetteerBuilder.readNameIndex(spark, preMaint).get.count() == preIx,
      "deferred-delete fold must keep the retained snapshot's pins resolvable")
    // a second maintenance pass rolls retention past preMaint: its
    // version dir is pruned and the folded-away shards + applied
    // watermarks are reclaimed (gcUnpinned)
    GazetteerBuilder.maintainSnapshots(spark, root, keepLast = 1, maxShards = 1)
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(preMaint)),
      "retention must prune the rolled-past version")
    val store = GazetteerBuilder.storeDir(root)
    val delShards = fs.exists(new org.apache.hadoop.fs.Path(s"$store/deletes")) &&
      fs.listStatus(new org.apache.hadoop.fs.Path(s"$store/deletes"))
        .exists(_.getPath.getName.startsWith("shard="))
    assert(!delShards, "applied watermarks must be reclaimed once unpinned")
    val current = graft.ext.VersionedStore.resolveCurrent(spark, root)
    assert(poiSet(GazetteerBuilder.readPois(spark, current)) == preSet)
  }

  test("single-writer is MECHANICAL: a racing refreshDelta fails loudly, never silently interleaves") {
    val root = graft.core.TempDirs.create("graft-gazdelta-") + "/gaz"
    GazetteerBuilder.writeVersionedPartitioned(spark, raw(baseRows: _*), root,
      targetParts = 4)
    val fa = feed((3L, "renamed three", "U"))
    val fb = feed((8L, "renamed eight", "U"))
    val outcomes = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val gate = new java.util.concurrent.CountDownLatch(1)
    val ts = Seq(fa, fb).zipWithIndex.map { case (f, i) =>
      val t = new Thread(() => {
        gate.await()
        try { GazetteerBuilder.refreshDelta(spark, root, f); outcomes.add(s"ok$i") }
        catch {
          case e: java.io.IOException
            if e.getMessage.contains("maintenance already running") =>
            outcomes.add(s"refused$i")
        }
        ()
      })
      t.start(); t
    }
    gate.countDown()
    ts.foreach(_.join())
    import scala.jdk.CollectionConverters._
    val res = outcomes.asScala.toSeq.sorted
    val wins = res.count(_.startsWith("ok"))
    // both may win if they serialized past each other's release — what
    // is FORBIDDEN is a silent interleave; with ≥1 winner the snapshot
    // must be a clean base+delta(s) state
    assert(wins >= 1, s"no refresh won: $res")
    val current = graft.ext.VersionedStore.resolveCurrent(spark, root)
    val got = poiSet(GazetteerBuilder.readPois(spark, current))
    val expectA = poiSet(GazetteerBuilder.buildPois(
      graft.ext.Cdc.applyChanges(raw(baseRows: _*), fa, "id")))
    val expectB = poiSet(GazetteerBuilder.buildPois(
      graft.ext.Cdc.applyChanges(raw(baseRows: _*), fb, "id")))
    val expectAB = (expectA ++ expectB) -- Set((3L, "cafe number 3"), (8L, "cafe number 8"))
    assert(got == expectA || got == expectB || got == expectAB,
      s"interleaved snapshot: winners=$res")
    assert(got.size == 40)
  }

  test("delete → re-append → maintainSnapshots: the id keeps serving, live and under the next refresh's pin (round-18 HIGH fix)") {
    val root = graft.core.TempDirs.create("graft-gazdelta-") + "/gaz"
    GazetteerBuilder.writeVersionedPartitioned(spark, raw(baseRows: _*), root,
      targetParts = 4)
    GazetteerBuilder.refreshDelta(spark, root, feed((7L, "", "D")))
    GazetteerBuilder.refreshDelta(spark, root, feed((7L, "phoenix seven", "I")))
    GazetteerBuilder.maintainSnapshots(spark, root, keepLast = 2, maxShards = 1)
    // a further refresh AFTER maintenance: its manifest pins the folded
    // shard plus its own append — the re-appended id must serve through
    // both the live view and this pin (pre-fix, the stale full-delete
    // watermark won the recency max once the fold hid the re-append's
    // shard from the serving set)
    GazetteerBuilder.refreshDelta(spark, root, feed((8L, "renamed eight", "U")))
    val current = graft.ext.VersionedStore.resolveCurrent(spark, root)
    assert(poiSet(GazetteerBuilder.readPois(spark, current))
      .contains((7L, "phoenix seven")))
    val eng = graft.query.ScoutEngine.fromPath(spark, current)
    val hits = eng.forwardFast(graft.query.ForwardReq(
      Seq(graft.query.ForwardCandidate("phoenix seven")), limit = 3))
    assert(hits.isDefined, "the pinned trigram index must serve the request")
    assert(hits.get.exists(_.osmId == 7L),
      "re-appended id lost from the pinned trigram index after maintenance")
    eng.close()
    // and the raw live store agrees
    val store = GazetteerBuilder.storeDir(root)
    val live = graft.ext.TrigramStore.postings(spark, store)
      .filter(col("osm_id") === 7L).count()
    assert(live > 0, "re-appended id lost from the LIVE trigram view")
  }

  test("a full partitioned build refuses a root that already holds one (round-18 MEDIUM fix)") {
    val root = graft.core.TempDirs.create("graft-gazdelta-") + "/gaz"
    GazetteerBuilder.writeVersionedPartitioned(spark, raw(baseRows: _*), root,
      targetParts = 4)
    val e = intercept[IllegalArgumentException] {
      GazetteerBuilder.writeVersionedPartitioned(spark, raw(baseRows: _*), root,
        targetParts = 4)
    }
    assert(e.getMessage.contains("refreshDelta"),
      s"refusal must route the caller to the delta path: ${e.getMessage}")
    // the existing chain is untouched and still serves
    val current = graft.ext.VersionedStore.resolveCurrent(spark, root)
    assert(GazetteerBuilder.readPois(spark, current).count() == 40L)
  }

  test("gcPool survives a stray non-partition directory under pool/") {
    val root = graft.core.TempDirs.create("graft-gazdelta-") + "/gaz"
    GazetteerBuilder.writeVersionedPartitioned(spark, raw(baseRows: _*), root,
      targetParts = 4)
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$root/pool/pk=notanumber/junk"))
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$root/pool/foreign-dir"))
    GazetteerBuilder.gcPool(spark, root, graceMs = 0L) // must not throw
    val current = graft.ext.VersionedStore.resolveCurrent(spark, root)
    assert(GazetteerBuilder.readPois(spark, current).count() == 40L,
      "referenced generations must survive the sweep")
  }

  test("manifest format gate: a newer-engine manifest is refused loudly; a pre-stamp manifest reads as v1") {
    val root = graft.core.TempDirs.create("graft-gazdelta-") + "/gaz"
    GazetteerBuilder.writeVersionedPartitioned(spark, raw(baseRows: _*), root,
      targetParts = 4)
    val cur = graft.ext.VersionedStore.resolveCurrent(spark, root)
    val mf = new java.io.File(s"$cur/_POIS_MANIFEST")
    val body = new String(java.nio.file.Files.readAllBytes(mf.toPath), "UTF-8")
    assert(body.startsWith("format=1\n"), "writer must stamp its format")

    // a manifest written by a NEWER engine: every read/mutation entry
    // through readManifest must refuse, not silently mis-serve
    java.nio.file.Files.write(mf.toPath,
      body.replace("format=1", "format=2").getBytes("UTF-8"))
    new java.io.File(mf.getParentFile, "._POIS_MANIFEST.crc").delete()
    val e = intercept[java.io.IOException] {
      GazetteerBuilder.readPois(spark, cur)
    }
    assert(e.getMessage.contains("newer engine"), e.getMessage)
    intercept[java.io.IOException] {
      GazetteerBuilder.refreshDelta(spark, root, feed((3L, "x", "U")))
    }

    // pre-stamp history (no format line) reads as format 1 implied
    java.nio.file.Files.write(mf.toPath,
      body.replace("format=1\n", "").getBytes("UTF-8"))
    assert(GazetteerBuilder.readPois(spark, cur).count() == 40L)
    assert(GazetteerBuilder.readManifest(spark, cur).get.txns.isEmpty)
  }

  test("gcPool reclaims generations no live manifest references") {
    val root = graft.core.TempDirs.create("graft-gazdelta-") + "/gaz"
    GazetteerBuilder.writeVersionedPartitioned(spark, raw(baseRows: _*), root,
      targetParts = 4)
    val v1 = graft.ext.VersionedStore.resolveCurrent(spark, root)
    val m1 = GazetteerBuilder.readManifest(spark, v1).get
    GazetteerBuilder.refreshDelta(spark, root, feed((3L, "renamed three", "U")))
    // drop v1 from retention, then gc with zero grace: v1's superseded
    // generation of the touched pk is now unreferenced
    graft.ext.VersionedStore.gc(spark, root, keepLast = 1)
    GazetteerBuilder.gcPool(spark, root, graceMs = 0L)
    val touchedPk = 3L / m1.pkWidth
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(
      s"$root/pool/pk=$touchedPk/${m1.parts(touchedPk)}")),
      "superseded generation must be reclaimed")
    // current version still reads whole
    val v2 = graft.ext.VersionedStore.resolveCurrent(spark, root)
    assert(GazetteerBuilder.readPois(spark, v2).count() == 40L)
  }
}

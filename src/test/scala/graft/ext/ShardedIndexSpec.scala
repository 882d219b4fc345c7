package graft.ext

import graft.SparkSpec
import org.apache.spark.sql.functions._

import java.nio.file.{Files, Paths}

/** The one shard-protocol core ([[ShardedIndex]]) behind the four
  * index families: a rule it owns behaves the same for every family,
  * and the families do not grow their own copies of the protocol back.
  */
class ShardedIndexSpec extends SparkSpec {

  import spark.implicits._

  private def fresh(tag: String) = Files
    .createTempDirectory(s"graft-sharded-$tag").toString + "/idx"

  private def tdocs(ids: Seq[Long]) = ids
    .map(i => (i, s"fox spark jugs doc$i tok${i % 5}")).toDF("doc_id", "text")
  private def mtoks(ids: Seq[Long]) = Dedup.docTokens(
    ids.map(i => (i, s"unique text $i topic ${i % 7}")).toDF("doc_id", "text"),
    "doc_id", "text", distinct = false)
  private lazy val emb = spark.read.parquet(sf("sf0.001") + "/embeddings.parquet")
  private def vecs(lo: Long, hi: Long) = emb.filter(col("vec_id") >= lo && col("vec_id") < hi)
  private def gpois(ids: Seq[Long]) = ids
    .map(i => (i, s"poi number $i", null: String))
    .toDF("osm_id", "name_local_norm", "name_en_norm")

  /** (family, build three shards 0/1/2 of ten-plus rows each, tombstone
    * one row of shard 1 — for the watermark store, most of its ids —
    * compactSmall) */
  private lazy val families: Seq[(String, String => Unit, String => Unit,
      (String, Double) => Seq[Int])] = Seq(
    ("TextIndex",
      p => {
        TextIndex.write(tdocs(0L until 10L), p)
        TextIndex.append(tdocs(10L until 20L), p)
        TextIndex.append(tdocs(20L until 30L), p)
      },
      p => TextIndex.delete(Seq(15L).toDF("doc_id"), p),
      (p, frac) => TextIndex.compactSmall(spark, p, maxShardBytes = 0L, tombstoneFrac = frac)),
    ("MinHashIndex",
      p => {
        MinHashIndex.write(mtoks(0L until 12L), p, 8, rowsPerBand = 2)
        MinHashIndex.append(mtoks(12L until 24L), p, 8, rowsPerBand = 2)
        MinHashIndex.append(mtoks(24L until 36L), p, 8, rowsPerBand = 2)
      },
      p => MinHashIndex.delete(Seq(15L).toDF("id"), p),
      (p, frac) => MinHashIndex.compactSmall(spark, p, maxShardBytes = 0L, tombstoneFrac = frac)),
    ("VectorIndex",
      p => {
        VectorIndex.write(vecs(0L, 200L), p, nCentroids = 4)
        VectorIndex.append(vecs(200L, 300L), p)
        VectorIndex.append(vecs(300L, 400L), p)
      },
      p => VectorIndex.delete(Seq(250L).toDF("vec_id"), p),
      (p, frac) => VectorIndex.compactSmall(spark, p, maxShardBytes = 0L, tombstoneFrac = frac)),
    ("TrigramStore",
      p => {
        TrigramStore.write(gpois(0L until 10L), p)
        TrigramStore.append(gpois(10L until 20L), p)
        TrigramStore.append(gpois(20L until 30L), p)
      },
      p => TrigramStore.delete(spark, p, 10L until 17L),
      (p, frac) => TrigramStore.compactSmall(spark, p, maxShardBytes = 0L, tombstoneFrac = frac)))

  test("tombstone-heavy means at least one dead row, for every family") {
    // per family: (folded with no tombstone at all, folded with one dead
    // row in shard 1, live shards after) — no shard is small, so only
    // the heavy rule decides, at the lowest possible fraction bound
    val got = families.map { case (name, build, deleteOne, compactSmall) =>
      val path = fresh(name)
      build(path)
      assert(IndexIO.liveCommittedIds(spark, path) == Seq(0, 1, 2), name)
      val clean = compactSmall(path, 0.0)
      deleteOne(path)
      name -> ((clean, compactSmall(path, 0.0), IndexIO.liveCommittedIds(spark, path)))
    }
    val expected = (Seq[Int](), Seq(1), Seq(0, 2, 3))
    assert(got.toMap == families.map(_._1 -> expected).toMap)
  }

  test("maintain's size-tiered route runs no more jobs than compactSmall at the same threshold") {
    // two identical copies: three shards and one deleted id, so the
    // dead fraction (1/30) stays under maintain's 0.3 bound and
    // maxShards = 2 takes the compactSmall route
    def copy(tag: String) = {
      val p = fresh(tag)
      TrigramStore.write(gpois(0L until 10L), p)
      TrigramStore.append(gpois(10L until 20L), p)
      TrigramStore.append(gpois(20L until 30L), p)
      TrigramStore.delete(spark, p, Seq(15L))
      p
    }
    val (viaMaintain, viaCompact) = (copy("maintain"), copy("compactSmall"))
    val sc = spark.sparkContext
    def jobsOf[T](body: => T): (T, Int) = {
      val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
      val listener = new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
          jobs.incrementAndGet(); ()
        }
      }
      org.apache.spark.sql.GraftBridge.drainListenerBus(sc)
      sc.addSparkListener(listener)
      try {
        val out = body
        org.apache.spark.sql.GraftBridge.drainListenerBus(sc)
        (out, jobs.get())
      } finally sc.removeSparkListener(listener)
    }
    // maintain's threshold: the (n - maxShards + 1)-th smallest shard
    val live = IndexIO.liveCommittedIds(spark, viaCompact)
    val threshold = live.map(k =>
      IndexIO.dirBytes(spark, s"$viaCompact/postings/shard=$k")).sorted.apply(live.size - 2)
    val (report, maintainJobs) = jobsOf(TrigramStore.maintain(spark, viaMaintain, maxShards = 2))
    val (folded, compactJobs) =
      jobsOf(TrigramStore.compactSmall(spark, viaCompact, threshold, tombstoneFrac = 0.3))
    assert(report.action == "compactSmall" && report.folded == folded, s"$report vs $folded")
    assert(maintainJobs <= compactJobs,
      s"maintain ran $maintainJobs Spark jobs, compactSmall $compactJobs")
  }

  test("the index families call none of the protocol primitives ShardedIndex owns") {
    val owned = Seq("acquireMaintLock", "releaseMaintLock", "heartbeatMaintLock",
      "claimShardId", "heartbeatClaim", "leasedIds", "gcClaims", "gcStaging",
      "dropIncompleteCommitted")
    val dir = Paths.get("src/main/scala/graft/ext")
    for (file <- Seq("TextIndex.scala", "VectorIndex.scala", "MinHashIndex.scala",
        "TrigramStore.scala")) {
      val src = new String(Files.readAllBytes(dir.resolve(file)), "UTF-8")
      val found = owned.filter(m => src.contains(s"IndexIO.$m"))
      assert(found.isEmpty,
        s"$file calls ${found.mkString(", ")} — route the protocol through ShardedIndex")
    }
  }
}

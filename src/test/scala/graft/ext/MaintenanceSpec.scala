package graft.ext

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The compaction trigger policy ([[ShardedIndex.maintain]], VERDICT r9
  * task 4): a long-lived crawl loop of appends + deletes, with
  * `maintain` called once per generation, must (a) keep the live shard
  * count bounded by `maxShards`, (b) keep the index-wide dead-row
  * fraction bounded by `tombstoneFrac` (via the full-compact trigger),
  * and (c) never change serving results — before/after equality every
  * generation, plus final equality with a from-scratch rebuild on the
  * surviving docs.
  */
class MaintenanceSpec extends SparkSpec {

  import spark.implicits._

  private val K1 = 1.2
  private val B = 0.75
  private val Terms = Seq("fox", "spark", "jugs")

  private def fresh(tag: String) = java.nio.file.Files
    .createTempDirectory(s"graft-maint-$tag").toString + "/idx"

  test("TextIndex crawl loop: shards and dead rows stay bounded, serving never changes") {
    val path = fresh("text")
    def docs(ids: Seq[Long]) = ids
      .map(i => (i, s"fox spark jugs doc$i tok${i % 5}")).toDF("doc_id", "text")
    def serve() = TextIndex.bm25TopK(spark, path, Terms, 50, K1, B)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq

    TextIndex.write(docs(0L until 10L), path)
    var live = (0L until 10L).toSet
    val actions = scala.collection.mutable.Buffer.empty[String]
    for (gen <- 1 to 6) {
      val ids = (gen * 10L) until (gen * 10L + 10L)
      TextIndex.append(docs(ids), path)
      live ++= ids
      // a re-crawl takedown: half of the previous generation dies
      val dead = ((gen - 1) * 10L until ((gen - 1) * 10L + 5L)).toSeq
      TextIndex.delete(dead.toDF("doc_id"), path)
      live --= dead
      val before = serve()
      val rep = TextIndex.maintain(spark, path, maxShards = 3, tombstoneFrac = 0.4)
      actions += rep.action
      assert(serve() == before, s"gen $gen: maintain changed serving results")
      val n = IndexIO.liveCommittedIds(spark, path).size
      assert(n <= 3, s"gen $gen: $n live shards survive maintain (bound 3)")
    }
    // steady-state crawl: folds fire, the full rewrite never needs to
    // (folds drop folded shards' tombstones physically, which is the
    // policy keeping the dead fraction down at fold cost, not rewrite
    // cost — the design's whole point)
    assert(actions.contains("compactSmall"), s"no shard fold fired: $actions")
    assert(!actions.contains("compact"),
      s"steady-state crawl should never need the full rewrite: $actions")
    // a MASS takedown (most of the corpus dies at once) must cross the
    // dead-fraction trigger and take the full-compact route
    val massDead = live.toSeq.sorted.take(live.size * 3 / 5)
    TextIndex.delete(massDead.toDF("doc_id"), path)
    live --= massDead
    val beforeMass = serve()
    val mass = TextIndex.maintain(spark, path, maxShards = 3, tombstoneFrac = 0.4)
    assert(mass.action == "compact", s"mass takedown chose ${mass.action}")
    assert(serve() == beforeMass, "full compact changed serving results")
    // converged state serves exactly a rebuild on the surviving docs
    val ref = fresh("textref")
    TextIndex.write(docs(live.toSeq.sorted), ref)
    val refServe = TextIndex.bm25TopK(spark, ref, Terms, 50, K1, B)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq
    assert(serve() == refServe)
    // and the measured dead fraction is back under the bound
    val fin = TextIndex.maintain(spark, path, maxShards = 3, tombstoneFrac = 0.4)
    assert(fin.deadFrac < 0.4, s"dead fraction ${fin.deadFrac} not reclaimed")
  }

  test("MinHashIndex crawl loop: bounded shards, pair results stable through maintain") {
    val path = fresh("mh")
    val NumHashes = 8
    def docs(ids: Seq[Long]) = ids.map(i =>
      (i, if (i % 3 == 0) "the quick brown fox jumps over the lazy dog"
          else s"unique text $i about topic ${i % 7} entirely")).toDF("doc_id", "text")
    def toks(ids: Seq[Long]) =
      Dedup.docTokens(docs(ids), "doc_id", "text", distinct = false)
    def pairs() = MinHashIndex.pairs(spark, path, NumHashes)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet

    MinHashIndex.write(toks(0L until 12L), path, NumHashes, rowsPerBand = 2)
    var live = (0L until 12L).toSet
    for (gen <- 1 to 5) {
      val ids = (gen * 12L) until (gen * 12L + 12L)
      MinHashIndex.append(toks(ids), path, NumHashes, rowsPerBand = 2)
      live ++= ids
      val dead = Seq((gen - 1) * 12L, (gen - 1) * 12L + 3L)
      MinHashIndex.delete(dead.toDF("id"), path)
      live --= dead
      val before = pairs()
      MinHashIndex.maintain(spark, path, maxShards = 3, tombstoneFrac = 0.4)
      assert(pairs() == before, s"gen $gen: maintain changed pair results")
      assert(IndexIO.liveCommittedIds(spark, path).size <= 3)
    }
    val ref = fresh("mhref")
    MinHashIndex.write(toks(live.toSeq.sorted), ref, NumHashes, rowsPerBand = 2)
    val refPairs = MinHashIndex.pairs(spark, ref, NumHashes)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(pairs() == refPairs)
  }

  test("VectorIndex crawl loop: bounded shards, topK stable through maintain") {
    val path = fresh("vec")
    val emb = spark.read.parquet(sf("sf0.001") + "/embeddings.parquet")
    val queries = emb.filter(col("vec_id") < 5)
    def topk() = VectorIndex.topK(spark, path, queries, k = 5, nprobe = 2)
      .select("query_id", "rank", "cand_id")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq

    VectorIndex.write(emb.filter(col("vec_id") < 200), path, nCentroids = 4)
    for (gen <- 1 to 4) {
      val lo = 200 + (gen - 1) * 100
      VectorIndex.append(
        emb.filter(col("vec_id") >= lo && col("vec_id") < lo + 100), path)
      VectorIndex.delete(Seq(lo.toLong - 100L).toDF("vec_id"), path)
      val before = topk()
      VectorIndex.maintain(spark, path, maxShards = 3, tombstoneFrac = 0.4)
      assert(topk() == before, s"gen $gen: maintain changed topK results")
      assert(IndexIO.liveCommittedIds(spark, path).size <= 3)
    }
  }
}

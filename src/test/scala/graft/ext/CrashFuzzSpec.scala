package graft.ext

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Crash-injection sweep over the commit protocol (VERDICT r9 task 8):
  * [[IndexIO.crashHook]] throws at the K-th protocol-level filesystem
  * mutation, and K sweeps over EVERY reachable kill point of
  * append / compactSmall / full-rebuild publish (exhaustive — strictly
  * stronger than sampling N random points). Invariants proved at every
  * point:
  *   - append: serving equals the pre-append state or the post-append
  *     state, never a mix; the repair op (`compact`) keeps results; a
  *     retry append converges to the post state.
  *   - compactSmall: serving NEVER changes, before or after repair.
  *   - full-rebuild publish: the destination serves old or new results;
  *     in the one documented window where the destination is absent
  *     (between the aside and the main rename), the old index is
  *     recoverable from its `dest-old-*` aside by a single rename.
  * The shared protocol code (claim, marker, staged publish, aside) is
  * swept once through TextIndex; MinHashIndex and VectorIndex sweeps
  * cover their family-specific append/compactSmall orchestration.
  */
class CrashFuzzSpec extends SparkSpec with EagerLease {

  import spark.implicits._

  private final class InjectedCrash extends RuntimeException("injected crash")

  /** Run `op` with a crash armed at kill point `k`; true iff it fired. */
  private def crashedAt(k: Int)(op: => Unit): Boolean = {
    val n = new java.util.concurrent.atomic.AtomicInteger(0)
    IndexIO.crashHook =
      () => if (n.getAndIncrement() == k) throw new InjectedCrash
    try { op; false }
    catch { case _: InjectedCrash => true }
    finally IndexIO.crashHook = () => ()
  }

  private def fresh(tag: String) = java.nio.file.Files
    .createTempDirectory(s"graft-fuzz-$tag").toString + "/idx"

  private def tdocs(ids: Seq[Long]) = ids
    .map(i => (i, s"fox spark jugs doc$i tok${i % 5}")).toDF("doc_id", "text")
  private def tserve(path: String) =
    TextIndex.bm25TopK(spark, path, Seq("fox", "spark", "jugs"), 50, 1.2, 0.75)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq

  test("TextIndex.append: every kill point leaves pre or post state; repair + retry converge") {
    val refPre = fresh("t-pre"); val refPost = fresh("t-post")
    TextIndex.write(tdocs(0L until 10L), refPre)
    TextIndex.write(tdocs(0L until 20L), refPost)
    val pre = tserve(refPre); val post = tserve(refPost)
    assert(pre != post)
    var k = 0
    var sawCrash = 0
    var done = false
    while (!done) {
      val path = fresh(s"t-app-$k")
      TextIndex.write(tdocs(0L until 10L), path)
      val crashed = crashedAt(k) { TextIndex.append(tdocs(10L until 20L), path) }
      val s1 = tserve(path)
      assert(s1 == pre || s1 == post, s"kill point $k: mixed state served")
      TextIndex.compact(spark, path) // the declared repair op
      val s2 = tserve(path)
      assert(s2 == s1, s"kill point $k: repair changed serving results")
      if (s1 == pre) { // batch lost: a retry must converge to post
        TextIndex.append(tdocs(10L until 20L), path)
        assert(tserve(path) == post, s"kill point $k: retry did not converge")
      }
      if (crashed) sawCrash += 1 else done = true
      k += 1
    }
    assert(sawCrash >= 5, s"sweep only reached $sawCrash kill points — hook detached?")
  }

  test("TextIndex.compactSmall: serving never changes at any kill point") {
    var k = 0
    var sawCrash = 0
    var done = false
    while (!done) {
      val path = fresh(s"t-cs-$k")
      TextIndex.write(tdocs(0L until 10L), path)
      TextIndex.append(tdocs(10L until 20L), path)
      TextIndex.delete(Seq(3L, 12L).toDF("doc_id"), path)
      val before = tserve(path)
      val crashed = crashedAt(k) {
        TextIndex.compactSmall(spark, path, maxShardBytes = Long.MaxValue)
      }
      assert(tserve(path) == before, s"kill point $k: compactSmall changed serving")
      TextIndex.compactSmall(spark, path, maxShardBytes = Long.MaxValue) // repair
      assert(tserve(path) == before, s"kill point $k: repair pass changed serving")
      if (crashed) sawCrash += 1 else done = true
      k += 1
    }
    assert(sawCrash >= 5, s"sweep only reached $sawCrash kill points")
  }

  test("TextIndex full-rebuild publish: old or new serves; the aside window recovers by one rename") {
    val refOld = fresh("t-old"); val refNew = fresh("t-new")
    TextIndex.write(tdocs(0L until 10L), refOld)
    TextIndex.write(tdocs(5L until 15L), refNew)
    val old = tserve(refOld); val nw = tserve(refNew)
    var k = 0
    var sawCrash = 0
    var done = false
    while (!done) {
      val path = fresh(s"t-pub-$k")
      TextIndex.write(tdocs(0L until 10L), path)
      val crashed = crashedAt(k) { TextIndex.write(tdocs(5L until 15L), path) }
      val fs = new org.apache.hadoop.fs.Path(path)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (fs.exists(new org.apache.hadoop.fs.Path(path))) {
        val s = tserve(path)
        assert(s == old || s == nw, s"kill point $k: mixed rebuild served")
      } else {
        // the documented aside window: destination absent, previous
        // index recoverable under dest-old-* by a single rename
        val parent = new org.apache.hadoop.fs.Path(path).getParent
        val asides = fs.listStatus(parent).map(_.getPath.getName)
          .filter(_.startsWith(new org.apache.hadoop.fs.Path(path).getName + "-old-"))
        assert(asides.length == 1, s"kill point $k: dest missing, asides=$asides")
        fs.rename(new org.apache.hadoop.fs.Path(parent, asides.head),
          new org.apache.hadoop.fs.Path(path))
        assert(tserve(path) == old, s"kill point $k: aside recovery diverged")
      }
      if (crashed) sawCrash += 1 else done = true
      k += 1
    }
    assert(sawCrash >= 4, s"sweep only reached $sawCrash kill points")
  }

  private def mtoks(ids: Seq[Long]) = Dedup.docTokens(
    ids.map(i => (i, if (i % 3 == 0) "the quick brown fox jumps over the dog"
                     else s"unique text $i topic ${i % 7}")).toDF("doc_id", "text"),
    "doc_id", "text", distinct = false)
  private def mserve(path: String) = MinHashIndex.pairs(spark, path, 8)
    .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet

  test("MinHashIndex append + compactSmall kill-point sweeps") {
    val refPre = fresh("m-pre"); val refPost = fresh("m-post")
    MinHashIndex.write(mtoks(0L until 12L), refPre, 8, rowsPerBand = 2)
    MinHashIndex.write(mtoks(0L until 24L), refPost, 8, rowsPerBand = 2)
    val pre = mserve(refPre); val post = mserve(refPost)
    assert(pre != post)
    var k = 0; var sawCrash = 0; var done = false
    while (!done) {
      val path = fresh(s"m-app-$k")
      MinHashIndex.write(mtoks(0L until 12L), path, 8, rowsPerBand = 2)
      val crashed = crashedAt(k) {
        MinHashIndex.append(mtoks(12L until 24L), path, 8, rowsPerBand = 2)
      }
      val s1 = mserve(path)
      assert(s1 == pre || s1 == post, s"append kill point $k: mixed state")
      if (s1 == pre) {
        MinHashIndex.append(mtoks(12L until 24L), path, 8, rowsPerBand = 2)
        assert(mserve(path) == post, s"append kill point $k: retry diverged")
      }
      if (crashed) sawCrash += 1 else done = true
      k += 1
    }
    assert(sawCrash >= 3, s"append sweep only reached $sawCrash points")
    k = 0; sawCrash = 0; done = false
    while (!done) {
      val path = fresh(s"m-cs-$k")
      MinHashIndex.write(mtoks(0L until 12L), path, 8, rowsPerBand = 2)
      MinHashIndex.append(mtoks(12L until 24L), path, 8, rowsPerBand = 2)
      MinHashIndex.delete(Seq(3L).toDF("id"), path)
      val before = mserve(path)
      val crashed = crashedAt(k) {
        MinHashIndex.compactSmall(spark, path, maxShardBytes = Long.MaxValue)
      }
      assert(mserve(path) == before, s"compactSmall kill point $k changed serving")
      MinHashIndex.compactSmall(spark, path, maxShardBytes = Long.MaxValue)
      assert(mserve(path) == before, s"repair pass at kill point $k changed serving")
      if (crashed) sawCrash += 1 else done = true
      k += 1
    }
    assert(sawCrash >= 3, s"compactSmall sweep only reached $sawCrash points")
  }

  private def gpois(rows: (Long, String)*) = {
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("osm_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("name_local_norm",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("name_en_norm",
        org.apache.spark.sql.types.StringType)))
    spark.createDataFrame(spark.sparkContext.parallelize(
      rows.map(r => org.apache.spark.sql.Row(r._1, r._2, null))), schema)
  }
  private def gset(df: org.apache.spark.sql.DataFrame) =
    df.select("gram", "col_id", "osm_id").collect()
      .map(r => (r.getString(0), r.getInt(1), r.getLong(2))).toSet
  private def gserve(path: String) = gset(TrigramStore.postings(spark, path))

  test("TrigramStore.append: every kill point leaves a prefix state; pins exact; retry converges") {
    val baseRows = Seq(1L -> "alpha cafe", 2L -> "beta bar", 3L -> "gamma inn")
    val pre = gset(graft.etl.TrigramIndex.build(gpois(baseRows: _*)))
    // the one legitimate intermediate: the batch's DELETE half applied
    // (watermark-only, the standalone delete op), upserts still pending
    val delApplied = gset(graft.etl.TrigramIndex.build(
      gpois(1L -> "alpha cafe", 3L -> "gamma inn")))
    val post = gset(graft.etl.TrigramIndex.build(
      gpois(1L -> "alpha renamed", 3L -> "gamma inn", 4L -> "delta dock")))
    assert(pre != post && pre != delApplied)
    var k = 0; var sawCrash = 0; var done = false
    while (!done) {
      val path = fresh(s"g-app-$k")
      TrigramStore.write(gpois(baseRows: _*), path)
      val pin = TrigramStore.pinNow(spark, path)
      val crashed = crashedAt(k) {
        TrigramStore.append(gpois(1L -> "alpha renamed", 4L -> "delta dock"),
          path, deleteIds = Seq(2L))
      }
      val s1 = gserve(path)
      assert(s1 == pre || s1 == delApplied || s1 == post,
        s"append kill point $k: torn state served")
      // the pre-append PIN is exact at every kill point — the contract
      // refreshDelta's old-manifest serving relies on
      assert(gset(TrigramStore.postingsPinned(spark, path, pin)) == pre,
        s"append kill point $k: pinned read drifted")
      if (s1 != post) { // batch lost or partial: a retry must converge
        TrigramStore.append(gpois(1L -> "alpha renamed", 4L -> "delta dock"),
          path, deleteIds = Seq(2L))
        assert(gserve(path) == post, s"append kill point $k: retry diverged")
      }
      if (crashed) sawCrash += 1 else done = true
      k += 1
    }
    assert(sawCrash >= 5, s"sweep only reached $sawCrash kill points")
  }

  test("TrigramStore.compactAll (deferred) + compactSmall: serving and pins never change at any kill point") {
    def build(path: String): TrigramStore.Pin = {
      TrigramStore.write(gpois(1L -> "alpha cafe", 2L -> "beta bar",
        3L -> "gamma inn"), path)
      // delete → re-append before the fold: the watermark-recency path
      // (the round-18 HIGH fix) is live at every kill point
      TrigramStore.delete(spark, path, Seq(2L))
      TrigramStore.append(gpois(2L -> "beta reborn"), path)
      TrigramStore.pinNow(spark, path)
    }
    var k = 0; var sawCrash = 0; var done = false
    while (!done) {
      val path = fresh(s"g-ca-$k")
      val pin = build(path)
      val before = gserve(path)
      val crashed = crashedAt(k) {
        TrigramStore.compactAll(spark, path)
      }
      assert(gserve(path) == before, s"compactAll kill point $k changed serving")
      assert(gset(TrigramStore.postingsPinned(spark, path, pin)) == before,
        s"compactAll kill point $k: pinned read drifted")
      TrigramStore.compactAll(spark, path) // repair/finish
      assert(gserve(path) == before, s"repair pass at kill point $k changed serving")
      assert(gset(TrigramStore.postingsPinned(spark, path, pin)) == before,
        s"repair pass at kill point $k: pinned read drifted")
      if (crashed) sawCrash += 1 else done = true
      k += 1
    }
    assert(sawCrash >= 5, s"compactAll sweep only reached $sawCrash kill points")
    k = 0; sawCrash = 0; done = false
    while (!done) {
      val path = fresh(s"g-cs-$k")
      build(path)
      val before = gserve(path)
      val crashed = crashedAt(k) {
        TrigramStore.compactSmall(spark, path, maxShardBytes = Long.MaxValue)
      }
      assert(gserve(path) == before, s"compactSmall kill point $k changed serving")
      TrigramStore.compactSmall(spark, path, maxShardBytes = Long.MaxValue)
      assert(gserve(path) == before, s"repair pass at kill point $k changed serving")
      if (crashed) sawCrash += 1 else done = true
      k += 1
    }
    assert(sawCrash >= 5, s"compactSmall sweep only reached $sawCrash kill points")
  }

  test("VectorIndex append + compactSmall kill-point sweeps") {
    val emb = spark.read.parquet(sf("sf0.001") + "/embeddings.parquet")
    val queries = emb.filter(col("vec_id") < 5)
    def vserve(path: String) =
      VectorIndex.topK(spark, path, queries, k = 5, nprobe = 2)
        .select("query_id", "rank", "cand_id")
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq
    var k = 0; var sawCrash = 0; var done = false
    while (!done) {
      val path = fresh(s"v-app-$k")
      VectorIndex.write(emb.filter(col("vec_id") < 200), path, nCentroids = 4)
      val pre = vserve(path)
      val crashed = crashedAt(k) {
        VectorIndex.append(emb.filter(col("vec_id") >= 200 && col("vec_id") < 300), path)
      }
      val s1 = vserve(path)
      if (s1 != pre) { // post state: the appended shard became visible
        VectorIndex.compact(spark, path)
        assert(vserve(path) == s1, s"append kill point $k: repair changed serving")
      } else {
        VectorIndex.append(emb.filter(col("vec_id") >= 200 && col("vec_id") < 300), path)
        val post = vserve(path)
        VectorIndex.compact(spark, path)
        assert(vserve(path) == post, s"append kill point $k: retry+repair diverged")
      }
      if (crashed) sawCrash += 1 else done = true
      k += 1
    }
    assert(sawCrash >= 3, s"append sweep only reached $sawCrash points")
    k = 0; sawCrash = 0; done = false
    while (!done) {
      val path = fresh(s"v-cs-$k")
      VectorIndex.write(emb.filter(col("vec_id") < 200), path, nCentroids = 4)
      VectorIndex.append(emb.filter(col("vec_id") >= 200 && col("vec_id") < 300), path)
      VectorIndex.delete(Seq(7L).toDF("vec_id"), path)
      val before = vserve(path)
      val crashed = crashedAt(k) {
        VectorIndex.compactSmall(spark, path, maxShardBytes = Long.MaxValue)
      }
      assert(vserve(path) == before, s"compactSmall kill point $k changed serving")
      VectorIndex.compactSmall(spark, path, maxShardBytes = Long.MaxValue)
      assert(vserve(path) == before, s"repair pass at kill point $k changed serving")
      if (crashed) sawCrash += 1 else done = true
      k += 1
    }
    assert(sawCrash >= 3, s"compactSmall sweep only reached $sawCrash points")
  }
}

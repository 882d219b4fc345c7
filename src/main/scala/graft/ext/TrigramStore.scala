package graft.ext

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** The gazetteer's trigram name index under the [[ShardedIndex]] shard
  * protocol — the answer to "the refresh rebuilds the FULL trigram
  * index every CDC batch" ([[graft.etl.TrigramIndex]] is the bulk
  * artifact; this store makes it incrementally maintainable). Append,
  * fold and maintain are the shared core's; this object keeps the
  * postings layout, its delete model, and snapshot pins.
  *
  * Layout: one `postings(gram, col_id, osm_id)` table in committed
  * shards (gram-range sorted so per-gram equality probes prune row
  * groups, exactly the bulk artifact's layout), plus a `deletes` table.
  *
  * Delete model: WATERMARKS `(osm_id, below)`, not the plain
  * id-tombstones of the other families, because a gazetteer refresh
  * UPDATES rows: a rename appends the new name's postings for an id
  * that already has postings, and a plain id tombstone cannot kill the
  * old rows without also killing the new ones. A watermark `(id, K)`
  * means "postings of `id` in shards < K are superseded";
  * `(id, Long.MaxValue)` is a full delete. The LATEST watermark per id
  * wins, and a watermark is valid only while the commit MARKER of the
  * shard it names exists (a watermark naming an uncommitted shard is
  * inert). The live view is then exact per id — which matters because
  * the probe ([[graft.etl.TrigramIndex.candidateIds]]) counts gram hits
  * EXACTLY (`hit === ng`): a duplicate (gram, col, id) row from an old
  * shard would overshoot the count and turn into a FALSE NEGATIVE, the
  * one failure mode the trigram design must never have.
  *
  * Folded shards stay on disk: a versioned gazetteer manifest records
  * this store's (committed shard ids, delete shard ids) at publish time
  * and serves through [[postingsPinned]], so a CURRENT rollback restores
  * the exact index state of an older snapshot. A fold therefore only
  * REPLACES-hides the shards it folds (their markers also keep the
  * watermarks naming them valid) and deletes nothing; [[gcUnpinned]]
  * reclaims folded shards and applied watermarks once no kept manifest
  * pins them. A pinned read of a reclaimed shard fails LOUD, never
  * silently partial.
  */
object TrigramStore {

  private val DeleteCol = "osm_id"

  /** Watermark batches up to this many ids are written driver-side. */
  private val MaxDriverIds = 1 << 20

  /** The pinned index state a snapshot manifest records. */
  final case class Pin(commits: Seq[Int], deletes: Seq[Int])

  /** The postings layout: gram-range partitioned, sorted within. */
  private def writeShard(rows: String => DataFrame, stage: String, k: Int,
                         partitions: Int): Unit =
    IndexIO.sortedLayout(rows("postings"), partitions,
        Seq("gram", "col_id", "osm_id"), rangeCols = Seq("gram"))
      .write.mode(SaveMode.Overwrite).parquet(s"$stage/postings/shard=$k")

  /** This store's shape for the shared protocol. A fold of under
    * 256 MiB writes one coalesced, still gram-sorted partition: the
    * range layout's bounds-sampling job and shuffle are pure scheduler
    * floor at that size. */
  private val family = ShardedIndex.Family("TrigramStore", Seq("postings"),
    "postings", DeleteCol, writeShard, deletes = Watermarks,
    oneFileFoldBytes = 256L << 20)

  /** Build and publish a fresh store from a pois relation (the
    * [[graft.etl.GazetteerBuilder.buildPois]] schema: osm_id,
    * name_local_norm, name_en_norm). One committed shard, staged and
    * landed by the atomic [[IndexIO.publish]] rename, format-stamped. */
  def write(pois: DataFrame, path: String, partitions: Int = 8): Unit = {
    val spark = pois.sparkSession
    val staging = IndexIO.stagingFor(path)
    writeShard(_ => graft.etl.TrigramIndex.build(pois), staging, 0, partitions)
    IndexIO.commitShard(spark, staging, 0)
    IndexIO.publish(spark, staging, path)
  }

  /** Append one CDC batch ([[ShardedIndex.append]]): `upserts` are
    * pois-schema rows whose ids are inserted or renamed (their grams
    * land as ONE new shard; any older postings of the same ids are
    * superseded via watermarks), and `deleteIds` are ids removed from
    * the gazetteer (watermarked at MaxValue). Existing shard files are
    * never read or rewritten — the cost is the batch, not the corpus.
    *
    * The batch's watermark shard publishes inside the write step,
    * before the postings and the marker: a watermark naming shard K is
    * inert until K's marker lands, so the upsert half cuts over
    * atomically on the marker rename. Upsert ids come from the CALLER
    * when it already holds them driver-side (`upsertIds` —
    * refreshDelta's bounded feed; a hinted id whose upsert produced no
    * postings still gets its watermark, so its stale postings die), else
    * they are read back from the staged shard (delta-sized): a bounded
    * probe writes driver-side, a giant batch stays a Spark write.
    *
    * Crash atomicity (swept in `CrashFuzzSpec`): the DELETE half is
    * watermark-only and marker-free — exactly the standalone [[delete]]
    * op — so the one observable intermediate is "deletes applied,
    * upserts pending", a PREFIX of the batch decomposed as
    * delete ∘ upsert, never a torn upsert. A retry lands the batch
    * under a fresh shard id. Callers needing all-or-nothing visibility
    * publish a PIN around the append
    * ([[graft.etl.GazetteerBuilder.refreshDelta]] flips CURRENT only
    * after the append returns). */
  def append(upserts: DataFrame, path: String,
             deleteIds: Seq[Long] = Nil, partitions: Int = 1,
             upsertIds: Option[Seq[Long]] = None): Unit = {
    val spark = upserts.sparkSession
    ShardedIndex.append(spark, path, family) { (stage, k) =>
      writeShard(_ => graft.etl.TrigramIndex.build(upserts), stage, k, partitions)
      val dels = deleteIds.map(_ -> Long.MaxValue)
      upsertIds.filter(_.length <= MaxDriverIds) match {
        case Some(ids) => writeWatermarks(spark, path, ids.map(_ -> k.toLong) ++ dels)
        case None =>
          val written = spark.read.parquet(s"$stage/postings/shard=$k")
            .select(col(DeleteCol)).distinct()
          val probe = written.limit(MaxDriverIds + 1).collect()
          if (probe.length <= MaxDriverIds)
            writeWatermarks(spark, path, probe.toSeq.map(_.getLong(0) -> k.toLong) ++ dels)
          else {
            import spark.implicits._
            publishWatermarks(spark, path)(written
              .select(col(DeleteCol), lit(k.toLong).as("below"))
              .unionByName(dels.toDF(DeleteCol, "below"))
              .write.mode(SaveMode.Overwrite).parquet(_))
          }
      }
    }
  }

  /** Watermark-only mutation (a takedown batch with no new postings). */
  def delete(spark: SparkSession, path: String, ids: Seq[Long]): Unit = {
    IndexIO.requireSupportedFormat(spark, path)
    writeWatermarks(spark, path, ids.map(_ -> Long.MaxValue))
  }

  /** Stage one watermark shard with `write` and publish it by rename. */
  private def publishWatermarks(spark: SparkSession, path: String)(
      write: String => Unit): Unit = {
    val next = IndexIO.shardIds(spark, s"$path/deletes").lastOption.getOrElse(-1) + 1
    val staging = IndexIO.shardStagingFor(s"$path/deletes")
    write(staging)
    IndexIO.publishShard(spark, staging, s"$path/deletes/shard=$next")
  }

  /** Driver-held watermark rows, written through parquet-java directly
    * ([[DriverParquet]]): a Spark job per tiny batch is scheduler floor. */
  private def writeWatermarks(spark: SparkSession, path: String,
                              rows: Seq[(Long, Long)]): Unit =
    if (rows.nonEmpty) publishWatermarks(spark, path)(staging =>
      DriverParquet.writeFile(spark, staging,
        s"message deletes { required int64 $DeleteCol; required int64 below; }") {
        (schema, w) =>
          for ((id, below) <- rows) {
            val g = new org.apache.parquet.example.data.simple.SimpleGroup(schema)
            g.add(DeleteCol, id); g.add("below", below)
            w.write(g)
          }
      })

  /** The live postings view: committed shards, watermark-subtracted.
    * The row layout (gram, col_id, osm_id) of the bulk artifact, the
    * one the serving engine's nameIndex slot binds. */
  def postings(spark: SparkSession, path: String): DataFrame = {
    val committed = IndexIO.liveCommittedIds(spark, path)
    IndexIO.requireCommittedOrLegacy(spark, path, "postings", committed)
    postingsOf(spark, path, committed,
      IndexIO.shardIds(spark, s"$path/deletes"))
  }

  /** The postings view AS OF a snapshot pin — the versioned-gazetteer
    * read path. Fails loudly if [[gcUnpinned]] reclaimed a pinned shard
    * (serving a silently-partial index would be the worse failure). */
  def postingsPinned(spark: SparkSession, path: String, pin: Pin): DataFrame = {
    IndexIO.requireSupportedFormat(spark, path)
    // marker AND data: [[gcUnpinned]] may retain a folded shard's commit
    // marker (kept while a surviving watermark references it — the
    // marker is what keeps that watermark VALID) after reclaiming its
    // postings data, so a marker-only check could pass for a pin whose
    // rows are gone and fail later, unhelpfully, inside the scan
    val have = IndexIO.shardIds(spark, s"$path/commits").toSet
      .intersect(IndexIO.shardIds(spark, s"$path/postings").toSet)
    val missing = pin.commits.filterNot(have)
    if (missing.nonEmpty)
      throw new java.io.IOException(
        s"pinned trigram shards ${missing.mkString(", ")} no longer exist " +
          s"under $path (compacted after the snapshot was published) — " +
          "rebuild the snapshot or roll forward")
    val haveDels = IndexIO.shardIds(spark, s"$path/deletes").toSet
    val missingDels = pin.deletes.filterNot(haveDels)
    if (missingDels.nonEmpty)
      throw new java.io.IOException(
        s"pinned trigram delete shards ${missingDels.mkString(", ")} no " +
          s"longer exist under $path — rebuild the snapshot or roll forward")
    postingsOf(spark, path, pin.commits, pin.deletes)
  }

  private val WmSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField(DeleteCol,
      org.apache.spark.sql.types.LongType, nullable = false),
    org.apache.spark.sql.types.StructField("below",
      org.apache.spark.sql.types.LongType, nullable = false)))

  /** The postings of `shards` (with their `shard` column) and a `_dead`
    * flag: true when the id's LATEST valid watermark among the delete
    * shards `dels` supersedes the row. Delete-shard order is publish
    * order: a delete then a re-append leaves (id, MaxValue) then
    * (id, K) — recency resurrects the id, a max over `below` would keep
    * it dead forever. Inert watermarks (naming an uncommitted postings
    * shard — the append-crash window) filter out FIRST, so a crashed
    * re-append falls back to the older watermark instead of
    * resurrecting rows that never committed. "Committed" is commit-
    * MARKER existence on disk, NOT membership in the serving set: a
    * fold REPLACES-hides the shards it folds but keeps their markers,
    * and a re-append watermark (id, K) with K folded away must stay
    * VALID — treating it inert would let an older (id, MaxValue) delete
    * win the recency max and silently drop the id's fold-kept postings
    * (spec: `TrigramStoreSpec` delete→re-append→deferred-fold). */
  private def flagged(spark: SparkSession, path: String, shards: Seq[Int],
                      dels: Seq[Int]): DataFrame = {
    val posts = IndexIO.readCommitted(spark, path, "postings", shards)
    if (dels.isEmpty) return posts.withColumn("_dead", lit(false))
    val markerSet = IndexIO.shardIds(spark, s"$path/commits").map(_.toLong).toSet
    val wm = spark.read.schema(WmSchema)
      .option("basePath", s"$path/deletes")
      .parquet(dels.map(k => s"$path/deletes/shard=$k"): _*)
      .filter(col("below") === Long.MaxValue ||
        col("below").isInCollection(markerSet))
      .groupBy(col(DeleteCol))
      .agg(max(struct(col("shard").cast("long").as("s"), col("below"))).as("w"))
      .select(col(DeleteCol).as("_wm_id"), col("w.below").as("below"))
    // watermark sets are delta-scale, postings corpus-scale: broadcast
    // the aggregated watermarks so the corpus side never shuffles
    posts.join(broadcast(wm), posts(DeleteCol) === col("_wm_id"), "left")
      .withColumn("_dead", coalesce(col("shard") < col("below"), lit(false)))
  }

  private def postingsOf(spark: SparkSession, path: String, shards: Seq[Int],
                         dels: Seq[Int]): DataFrame =
    flagged(spark, path, shards, dels).filter(!col("_dead"))
      .select("gram", "col_id", "osm_id")

  /** The watermark delete model ([[ShardedIndex.DeleteModel]]). */
  private object Watermarks extends ShardedIndex.DeleteModel {
    def foldRows(spark: SparkSession, path: String, f: ShardedIndex.Family,
                 shards: Seq[Int], dels: Seq[Int]): String => DataFrame =
      _ => postingsOf(spark, path, shards, dels)

    /** One aggregate of the flagged postings grouped by shard,
      * coalesced to a single job while the postings are small. */
    def deadByShard(spark: SparkSession, path: String, f: ShardedIndex.Family,
                    live: Seq[Int]): Map[Int, (Long, Long)] = {
      val dels = IndexIO.shardIds(spark, s"$path/deletes")
      if (dels.isEmpty) Map.empty
      else ShardedIndex.collectCounts(
        IndexIO.smallAggHint(spark, path, "postings", live, flagged(spark, path, live, dels))
          .groupBy("shard").agg(count(lit(1)), sum(col("_dead").cast("long"))))
    }

    val keepsFolded = true

    /** Record the high-mark so [[gcUnpinned]] can PROVE a watermark shard
      * is reclaimable (crash before the write: the mark stays old and gc
      * keeps more, never less). */
    def foldedAll(spark: SparkSession, path: String, dels: Seq[Int]): Unit =
      writeApplied(spark, path, dels.maxOption.getOrElse(-1))
  }

  /** The current pin — what a snapshot publish records. Watermark
    * shards at or below the `_APPLIED` high-mark are omitted: every
    * live commit postdates the fold that materialized them, so
    * re-applying them against this pin's commits is a no-op row-wise —
    * and any delete/re-append PAIR straddling the mark stays coherent
    * (both sides of a recency race land on the same side of a fold's
    * observation). Omitting them is what lets [[gcUnpinned]] retire
    * applied watermarks instead of every new snapshot re-pinning them
    * forever. */
  def pinNow(spark: SparkSession, path: String): Pin = {
    val applied = readApplied(spark, path)
    Pin(IndexIO.liveCommittedIds(spark, path),
      IndexIO.shardIds(spark, s"$path/deletes").filter(_ > applied))
  }

  /** Fold every live shard into one, applying all watermarks
    * ([[ShardedIndex.compactTiered]]) — the hygiene op that drops
    * superseded postings from the serving set (a long-running refresh
    * loop otherwise accretes one shard and one watermark file per
    * batch). Maintainer-locked; the REPLACES marker makes the swap
    * atomic to live readers. Pin-safe: the folded shards, markers and
    * watermarks stay for older manifests' pinned reads until
    * [[gcUnpinned]]. Returns the folded ids. */
  def compactAll(spark: SparkSession, path: String, partitions: Int = 8): Seq[Int] =
    ShardedIndex.compactTiered(spark, path, family, None, partitions, 0.5)

  /** Fold the live shards whose postings dir is ≤ `maxShardBytes`, or
    * that are watermark-heavy (≥ `tombstoneFrac` of their postings
    * superseded), into one — the size-tiered hygiene op that bounds
    * shard count under a long refresh loop WITHOUT rewriting the whole
    * index. Watermark-EXACT: the folded rows pass through the same
    * latest-wins subtraction live reads use, and the fold output lands
    * at a FRESH shard id greater than every existing one, so every
    * surviving watermark `(id, K)` keeps meaning exactly what it meant
    * (the moved rows sit at `next ≥ K` and stay visible; rows it
    * superseded were dropped in the fold). Watermark shards stay —
    * `(id, K)` may still suppress rows in un-folded shards. Returns the
    * folded ids (empty when nothing qualifies). */
  def compactSmall(spark: SparkSession, path: String, maxShardBytes: Long,
                   partitions: Int = 8, tombstoneFrac: Double = 0.5): Seq[Int] =
    ShardedIndex.compactTiered(spark, path, family, Some(maxShardBytes),
      partitions, tombstoneFrac)

  /** WHEN-to-compact policy ([[ShardedIndex.maintain]]): the dead
    * (watermark-superseded) posting fraction ≥ `tombstoneFrac` folds
    * all (whose `_APPLIED` mark lets [[gcUnpinned]] retire the
    * watermark shards); live shards > `maxShards` fold the small tail;
    * otherwise nothing. Pin-safe either way. */
  def maintain(spark: SparkSession, path: String, maxShards: Int = 8,
               tombstoneFrac: Double = 0.3, partitions: Int = 8): MaintainReport =
    ShardedIndex.maintain(spark, path, family, maxShards, tombstoneFrac, partitions)

  // ---- the applied-watermark high-mark --------------------------------
  //
  // `deletes/_APPLIED` holds the greatest delete-shard id a fold-ALL has
  // fully applied (every watermark in shards ≤ the mark is materialized
  // in the folded output — re-reading them is a no-op). It is the
  // MECHANICAL proof [[gcUnpinned]] needs that a watermark shard is
  // retirable: watermarks published after the last fold are still
  // load-bearing for live reads, and reclaiming one would resurrect the
  // postings it supersedes. Underscore-prefixed: invisible to the
  // `shard=` listings and to Spark's directory reads. Missing or
  // half-written (crash window — the write is delete + rename of a
  // staged file) reads as -1: gc keeps everything, never the reverse.

  private def appliedMarkPath(path: String) =
    new org.apache.hadoop.fs.Path(s"$path/deletes/_APPLIED")

  private def writeApplied(spark: SparkSession, path: String, mark: Int): Unit = {
    if (mark < 0) return
    val fs = IndexIO.fsOf(spark, path)
    val dest = appliedMarkPath(path)
    val tmp = new org.apache.hadoop.fs.Path(
      s"$path/deletes/._APPLIED-${java.util.UUID.randomUUID().toString.take(8)}")
    val out = fs.create(tmp, true)
    try out.write(mark.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    fs.delete(dest, false)
    if (!fs.rename(tmp, dest))
      throw new java.io.IOException(s"applied-mark publish failed under $path")
  }

  private def readApplied(spark: SparkSession, path: String): Int = {
    val fs = IndexIO.fsOf(spark, path)
    val p = appliedMarkPath(path)
    if (!fs.exists(p)) return -1
    IndexIO.readSmallFile(fs, p).trim.toIntOption
      .getOrElse(throw new java.io.IOException(
        s"corrupt applied-mark under $path/deletes — delete _APPLIED to " +
          "reset (gc then conservatively keeps all watermark shards)"))
  }

  /** Reclaim REPLACES-hidden (folded-away) shards and APPLIED watermark
    * shards that no surviving snapshot pins — the deferred half of every
    * fold. `pins` is the union of every KEPT manifest's pinned state
    * (the caller lists them after version retention ran); live shards
    * are never touched.
    *
    * Two mechanical guards make this safe to call at any point in the
    * maintenance cadence:
    *   - a watermark shard is reclaimed only when it is unpinned AND
    *     ≤ the `_APPLIED` high-mark — watermarks published after the
    *     last fold-all are still load-bearing and stay;
    *   - a folded shard's commit MARKER is kept while any surviving
    *     watermark still references it (`below = K` is valid only while
    *     K's marker exists — dropping the marker would flip the
    *     watermark inert and let an older full-delete win the recency
    *     max); its postings DATA is reclaimed once unpinned, and
    *     [[postingsPinned]] checks data presence, not just markers. */
  def gcUnpinned(spark: SparkSession, path: String, pins: Seq[Pin]): Unit = {
    val live = IndexIO.liveCommittedIds(spark, path).toSet
    val pinnedCommits = pins.flatMap(_.commits).toSet ++ live
    val pinnedDels = pins.flatMap(_.deletes).toSet
    val applied = readApplied(spark, path)
    val dels = IndexIO.shardIds(spark, s"$path/deletes")
    val (retired, keptDels) =
      dels.partition(k => !pinnedDels(k) && k <= applied)
    for (k <- retired) IndexIO.deleteDir(spark, s"$path/deletes/shard=$k")
    // `below` values surviving watermarks still reference: a tiny set
    // (each is a shard id), read with one bounded collect
    val referenced: Set[Long] =
      if (keptDels.isEmpty) Set.empty
      else spark.read.schema(WmSchema)
        .option("basePath", s"$path/deletes")
        .parquet(keptDels.map(k => s"$path/deletes/shard=$k"): _*)
        .filter(col("below") =!= Long.MaxValue)
        .select(col("below")).distinct()
        .collect().map(_.getLong(0)).toSet
    val committed = IndexIO.shardIds(spark, s"$path/commits")
    // CARRIER guard: a compaction marker's REPLACES file is what hides
    // the markers it folded ([[IndexIO.liveCommittedIds]]) — deleting a
    // carrier while any marker it hides survives (pinned, or retained
    // because a watermark references it) would RESURRECT those shards
    // as "live" with their data gone. Close the keep-set upward: a
    // marker stays while anything it replaces stays.
    val keepSeed = committed.filter(k =>
      pinnedCommits(k) || referenced(k.toLong)).toSet
    val fs = IndexIO.fsOf(spark, path)
    val replacesOf: Map[Int, Set[Int]] =
      committed.map(k => k -> IndexIO.replacesOf(fs, path, k)).toMap
    var keep = keepSeed
    var grown = true
    while (grown) {
      val next = committed.filter(k =>
        keep(k) || replacesOf(k).exists(keep)).toSet
      grown = next.size > keep.size
      keep = next
    }
    for (k <- committed if !keep(k))
      IndexIO.deleteDir(spark, s"$path/commits/shard=$k")
    // postings data goes for everything unpinned — marker retention
    // (watermark validity / carrier hiding) never needs the rows
    for (k <- committed if !pinnedCommits(k))
      IndexIO.deleteDir(spark, s"$path/postings/shard=$k")
  }
}

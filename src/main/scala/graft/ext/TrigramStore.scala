package graft.ext

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** The gazetteer's trigram name index under the [[IndexIO]] shard
  * protocol — the round-17 answer to "the refresh rebuilds the FULL
  * trigram index every CDC batch" ([[graft.etl.TrigramIndex]] is the
  * bulk artifact; this store makes it incrementally maintainable,
  * inheriting the format gate, commit markers, claim/lease machinery
  * and maintenance policy the three persisted indexes already share).
  *
  * Layout: one `postings(gram, col_id, osm_id)` table in committed
  * shards (gram-range sorted so per-gram equality probes prune row
  * groups, exactly the bulk artifact's layout), plus a `deletes` table
  * of WATERMARKS `(osm_id, below)` — NOT the plain id-tombstones of the
  * other indexes, because a gazetteer refresh UPDATES rows: a rename
  * appends the new name's postings for an id that already has postings,
  * and a plain id tombstone cannot kill the old rows without also
  * killing the new ones. A watermark `(id, K)` means "postings of `id`
  * in shards < K are superseded"; `(id, Long.MaxValue)` is a full
  * delete. The live view is then exact per id — which matters because
  * the probe ([[graft.etl.TrigramIndex.candidateIds]]) counts gram hits
  * EXACTLY (`hit === ng`): a duplicate (gram, col, id) row from an old
  * shard would overshoot the count and turn into a FALSE NEGATIVE, the
  * one failure mode the trigram design must never have.
  *
  * Crash ordering inside [[append]]: postings shard publishes first,
  * watermarks publish second, the commit marker lands LAST. A watermark
  * naming an UNCOMMITTED shard is inert ([[postingsOf]] only applies
  * watermarks whose `below` shard is committed, or MaxValue), so a
  * crash at any point leaves the previous state serving exactly and a
  * retry lands the whole batch under a fresh shard id — whose fresh
  * watermarks then supersede BOTH the old rows and the crashed
  * duplicate's rows.
  *
  * Snapshot pinning: a versioned gazetteer manifest records this
  * store's (committed shard ids, delete shard ids) at publish time and
  * serves through [[postingsPinned]] — so a CURRENT rollback restores
  * the exact index state of the older snapshot, not "whatever the live
  * store holds now". [[compactAll]] is the one op that invalidates
  * pins older than itself (it folds pinned shards away); run it only
  * after [[IndexIO.pruneVersions]]-style retention has dropped the
  * manifests that pin them — the pinned read fails LOUD (missing
  * marker check), never silently partial.
  */
object TrigramStore {

  private val Tables = Seq("postings")
  private val DeleteCol = "osm_id"

  /** The pinned index state a snapshot manifest records. */
  final case class Pin(commits: Seq[Int], deletes: Seq[Int])

  /** Build and publish a fresh store from a pois relation (the
    * [[graft.etl.GazetteerBuilder.buildPois]] schema: osm_id,
    * name_local_norm, name_en_norm). One committed shard, staged and
    * landed by the atomic [[IndexIO.publish]] rename, format-stamped. */
  def write(pois: DataFrame, path: String, partitions: Int = 8): Unit = {
    val spark = pois.sparkSession
    val staging = IndexIO.stagingFor(path)
    IndexIO.sortedLayout(graft.etl.TrigramIndex.build(pois), partitions,
        Seq("gram", "col_id", "osm_id"), rangeCols = Seq("gram"))
      .write.mode(SaveMode.Overwrite).parquet(s"$staging/postings/shard=0")
    IndexIO.commitShard(spark, staging, 0)
    IndexIO.publish(spark, staging, path)
  }

  /** Append one CDC batch: `upserts` are pois-schema rows whose ids are
    * inserted or renamed (their grams land as ONE new shard; any older
    * postings of the same ids are superseded via watermarks), and
    * `deleteIds` are ids removed from the gazetteer (watermarked at
    * MaxValue). Existing shard files are never read or rewritten — the
    * cost is the batch, not the corpus. Returns the committed shard id.
    *
    * Crash atomicity (swept in `CrashFuzzSpec`): the UPSERT half cuts
    * over atomically on the commit-marker rename (uncommitted postings
    * are invisible; their (id, shard) watermarks are inert until the
    * marker lands). The DELETE half is watermark-only and marker-free —
    * exactly the standalone [[delete]] op — so the one observable
    * intermediate is "deletes applied, upserts pending", a PREFIX of
    * the batch decomposed as delete ∘ upsert, never a torn upsert.
    * Callers needing all-or-nothing visibility publish a PIN around the
    * append ([[graft.etl.GazetteerBuilder.refreshDelta]] flips CURRENT
    * only after the append returns; a crashed refresh serves the old
    * manifest's pin, which excludes the new watermark shard entirely). */
  def append(upserts: DataFrame, path: String,
             deleteIds: Seq[Long] = Nil, partitions: Int = 1,
             upsertIds: Option[Seq[Long]] = None): Int = {
    val spark = upserts.sparkSession
    IndexIO.dropIncompleteCommitted(spark, path, Tables)
    val next = IndexIO.claimShardId(spark, path, Tables)
    val stage = IndexIO.shardStagingFor(s"$path/postings")
    val newPosts = graft.etl.TrigramIndex.build(upserts)
    IndexIO.sortedLayout(newPosts, partitions,
        Seq("gram", "col_id", "osm_id"), rangeCols = Seq("gram"))
      .write.mode(SaveMode.Overwrite).parquet(stage)
    IndexIO.heartbeatClaim(spark, path, next)
    IndexIO.publishShard(spark, stage, s"$path/postings/shard=$next")
    // watermarks: upserted ids supersede their own older postings
    // (below = this shard), deleted ids supersede everything. Published
    // BEFORE the marker — a watermark naming shard `next` is inert
    // until the marker lands, so the cutover for upserts is the one
    // marker rename. Upsert ids come from the CALLER when it already
    // holds them driver-side (`upsertIds` — refreshDelta's bounded-feed
    // route; skips a read-back pass over the just-written shard), else
    // they are read back from the shard (delta-sized); the routing
    // mirrors publishIdShard: a bounded probe collects and writes
    // driver-side, a giant batch stays a distributed (still
    // delta-sized) Spark write. A hinted id whose upsert produced no
    // postings (name too short / filtered by the ETL) still gets its
    // watermark — strictly MORE exact than the read-back (its stale
    // older postings die instead of lingering as verify-filtered
    // index mass).
    val maxDriverIds = 1 << 20
    upsertIds.filter(_.length <= maxDriverIds) match {
      case Some(ids) =>
        writeWatermarks(spark, path,
          ids.map(_ -> next.toLong) ++ deleteIds.map(_ -> Long.MaxValue))
      case None =>
        val written = spark.read.parquet(s"$path/postings/shard=$next")
          .select(col("osm_id")).distinct()
        val probe = written.limit(maxDriverIds + 1).collect()
        if (probe.length <= maxDriverIds) {
          writeWatermarks(spark, path,
            probe.toSeq.map(r => r.getLong(0) -> next.toLong) ++
              deleteIds.map(_ -> Long.MaxValue))
        } else {
          import spark.implicits._
          writeWatermarksDF(spark, path,
            written.select(col("osm_id"), lit(next.toLong).as("below"))
              .unionByName(deleteIds.toDF("osm_id")
                .select(col("osm_id"), lit(Long.MaxValue).as("below"))))
        }
    }
    IndexIO.commitShard(spark, path, next, enforceLease = true,
      verifyTables = Tables)
    next
  }

  /** Watermark-only mutation (a takedown batch with no new postings). */
  def delete(spark: SparkSession, path: String, ids: Seq[Long]): Unit = {
    IndexIO.requireSupportedFormat(spark, path)
    writeWatermarks(spark, path, ids.map(_ -> Long.MaxValue))
  }

  private def writeWatermarks(spark: SparkSession, path: String,
                              rows: Seq[(Long, Long)]): Unit = {
    if (rows.isEmpty) return
    // driver-held rows (bounded by the caller's collect/hint route):
    // written through parquet-java directly ([[IndexIO
    // .driverParquetFile]]) — a Spark job per tiny watermark batch was
    // pure scheduler floor. Same staging + rename publish as the DF
    // route, so crash ordering is unchanged.
    val next = IndexIO.shardIds(spark, s"$path/deletes")
      .lastOption.getOrElse(-1) + 1
    val staging = IndexIO.shardStagingFor(s"$path/deletes")
    DriverParquet.writeFile(spark, staging,
      s"message deletes { required int64 $DeleteCol; required int64 below; }") {
      (schema, w) =>
        for ((id, below) <- rows) {
          val g = new org.apache.parquet.example.data.simple.SimpleGroup(schema)
          g.add(DeleteCol, id); g.add("below", below)
          w.write(g)
        }
    }
    IndexIO.publishShard(spark, staging, s"$path/deletes/shard=$next")
  }

  private def writeWatermarksDF(spark: SparkSession, path: String,
                                wm: DataFrame): Unit = {
    val next = IndexIO.shardIds(spark, s"$path/deletes")
      .lastOption.getOrElse(-1) + 1
    val staging = IndexIO.shardStagingFor(s"$path/deletes")
    wm.write.mode(SaveMode.Overwrite).parquet(staging)
    IndexIO.publishShard(spark, staging, s"$path/deletes/shard=$next")
  }

  /** The live postings view: committed shards, watermark-subtracted.
    * Same (gram, col_id, osm_id) shape as the bulk artifact — plugs
    * straight into [[graft.etl.TrigramIndex.fetchCandidates]] and the
    * serving engine's nameIndex slot. */
  def postings(spark: SparkSession, path: String): DataFrame = {
    val committed = IndexIO.liveCommittedIds(spark, path)
    IndexIO.requireCommittedOrLegacy(spark, path, "postings", committed)
    postingsOf(spark, path, committed,
      IndexIO.shardIds(spark, s"$path/deletes"))
  }

  /** The postings view AS OF a snapshot pin — the versioned-gazetteer
    * read path. Fails loudly if a pinned shard was folded away by a
    * [[compactAll]] that outlived the snapshot's retention (serving a
    * silently-partial index would be the worse failure). */
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

  private def postingsOf(spark: SparkSession, path: String,
                         committed: Seq[Int], delShards: Seq[Int]): DataFrame = {
    val posts = IndexIO.readCommitted(spark, path, "postings", committed)
    if (delShards.isEmpty)
      return posts.select("gram", "col_id", "osm_id")
    // LATEST watermark per id wins (delete-shard order is publish
    // order): a delete then a re-append leaves (id, MaxValue) then
    // (id, K) — recency resurrects the id, a max over `below` would
    // keep it dead forever. Inert entries (watermarks naming an
    // uncommitted postings shard — the append-crash window) filter out
    // FIRST, so a crashed re-append falls back to the older watermark
    // instead of resurrecting rows that never committed. "Committed"
    // here is commit-MARKER existence on disk, NOT membership in the
    // serving set: after a deferred fold ([[compactAll]](deferDeletes =
    // true)) the folded shards are REPLACES-hidden from the serving set
    // but their markers remain, and a re-append watermark (id, K) with
    // K folded away must stay VALID — treating it inert would let an
    // older (id, MaxValue) delete win the recency max and silently drop
    // the id's (fold-kept) postings: a false negative for any id
    // deleted then re-inserted before maintenance (round-18 fix; spec:
    // `TrigramStoreSpec` delete→re-append→deferred-fold).
    val markerSet = IndexIO.shardIds(spark, s"$path/commits")
      .map(_.toLong).toSet
    val wm = spark.read.schema(WmSchema)
      .option("basePath", s"$path/deletes")
      .parquet(delShards.map(k => s"$path/deletes/shard=$k"): _*)
      .filter(col("below") === Long.MaxValue ||
        col("below").isInCollection(markerSet))
      .groupBy(col(DeleteCol))
      .agg(max(struct(col("shard").cast("long").as("s"), col("below")))
        .as("w"))
      .select(col(DeleteCol), col("w.below").as("below"))
    // watermark sets are delta-scale, postings corpus-scale: broadcast
    // the aggregated watermarks so the corpus side never shuffles
    posts.join(broadcast(wm.withColumnRenamed(DeleteCol, "_wm_id")),
        posts("osm_id") === col("_wm_id"), "left")
      .filter(col("below").isNull || col("shard") >= col("below"))
      .select("gram", "col_id", "osm_id")
  }

  /** Every committed posting row with a `_dead` flag (true = watermark-
    * superseded) — the one-pass input [[maintain]]'s dead-fraction
    * aggregate needs (counting total and kept separately would read the
    * postings twice). Same watermark semantics as [[postingsOf]]. */
  private def postingsDeadFlagged(spark: SparkSession, path: String,
                                  committed: Seq[Int],
                                  delShards: Seq[Int]): DataFrame = {
    val posts = IndexIO.readCommitted(spark, path, "postings", committed)
    val markerSet = IndexIO.shardIds(spark, s"$path/commits")
      .map(_.toLong).toSet
    val wm = spark.read.schema(WmSchema)
      .option("basePath", s"$path/deletes")
      .parquet(delShards.map(k => s"$path/deletes/shard=$k"): _*)
      .filter(col("below") === Long.MaxValue ||
        col("below").isInCollection(markerSet))
      .groupBy(col(DeleteCol))
      .agg(max(struct(col("shard").cast("long").as("s"), col("below")))
        .as("w"))
      .select(col(DeleteCol), col("w.below").as("below"))
    posts.join(broadcast(wm.withColumnRenamed(DeleteCol, "_wm_id")),
        posts("osm_id") === col("_wm_id"), "left")
      .select(col("gram"), col("col_id"), col("osm_id"),
        (!(col("below").isNull || col("shard") >= col("below"))).as("_dead"))
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

  /** Fold every live shard into one, applying all watermarks — the
    * hygiene op that physically drops superseded postings (a
    * long-running refresh loop otherwise accretes one shard and one
    * watermark file per batch). Maintainer-locked; REPLACES marker
    * makes the swap atomic to live readers. Returns folded ids.
    *
    * `deferDeletes = false` reclaims the folded shards and applied
    * watermarks immediately — pins recorded by snapshots published
    * BEFORE this fold stop resolving, so run it only after retention
    * pruned them. `deferDeletes = true` is the PIN-SAFE route
    * ([[graft.etl.GazetteerBuilder.maintainSnapshots]]): the folded
    * shards' markers, files, and watermarks stay on disk (invisible to
    * live reads — the REPLACES marker already hides them — but still
    * resolvable by older manifests' pinned reads); [[gcUnpinned]]
    * reclaims them once no kept manifest pins them. */
  def compactAll(spark: SparkSession, path: String, partitions: Int = 8,
                 deferDeletes: Boolean = false): Seq[Int] = {
    val nonce = IndexIO.acquireMaintLock(spark, path)
    try {
      IndexIO.gcStaging(spark, path)
      IndexIO.gcClaims(spark, path)
      val obsDels = IndexIO.shardIds(spark, s"$path/deletes")
      // ALL markers at entry, not just the serving set: immediate-mode
      // cleanup must also clear REPLACES-hidden markers a prior
      // [[compactSmall]] retained — deleting only the live carriers
      // would RESURRECT the hidden ids once their carrier marker goes
      // (liveCommittedIds derives hidden-ness from the carrier's
      // REPLACES file). A shard committing after this listing (a racing
      // append) is absent from it and stays untouched.
      val obsMarkers = IndexIO.shardIds(spark, s"$path/commits")
      val live = IndexIO.liveCommittedIds(spark, path)
      require(live.nonEmpty, s"no committed shards under $path — not a TrigramStore?")
      val folded = postingsOf(spark, path, live, obsDels)
      val next = IndexIO.claimShardId(spark, path, Tables)
      IndexIO.heartbeatMaintLock(spark, path, nonce)
      val stage = IndexIO.shardStagingFor(s"$path/postings")
      IndexIO.sortedLayout(folded, foldWidth(spark, path, live, partitions),
          Seq("gram", "col_id", "osm_id"), rangeCols = Seq("gram"))
        .write.mode(SaveMode.Overwrite).parquet(stage)
      IndexIO.publishShard(spark, stage, s"$path/postings/shard=$next")
      IndexIO.commitShard(spark, path, next, replaces = live,
        maintLockNonce = nonce)
      // the fold applied every observed watermark — record the
      // high-mark so [[gcUnpinned]] can PROVE a watermark shard is
      // reclaimable (crash before the write: the mark stays old and gc
      // keeps more, never less). Written before the immediate-delete
      // branch so both modes carry it.
      writeApplied(spark, path, obsDels.maxOption.getOrElse(-1))
      if (!deferDeletes) {
        for (k <- obsMarkers) IndexIO.deleteDir(spark, s"$path/commits/shard=$k")
        for (k <- obsMarkers) IndexIO.deleteDir(spark, s"$path/postings/shard=$k")
        // the fold applied every observed watermark; clear exactly those
        for (k <- obsDels) IndexIO.deleteDir(spark, s"$path/deletes/shard=$k")
      }
      live
    } finally IndexIO.releaseMaintLock(spark, path, nonce)
  }

  /** Fold the live shards whose postings dir is ≤ `maxShardBytes` into
    * one — the size-tiered hygiene op ([[TextIndex.compactSmall]]'s
    * shape) that bounds shard count under a long refresh loop WITHOUT
    * rewriting the whole index. Watermark-EXACT: the folded rows pass
    * through the same latest-wins subtraction live reads use
    * ([[postingsOf]] restricted to the fold set), and the fold output
    * lands at a FRESH shard id greater than every existing one, so
    * every surviving watermark `(id, K)` keeps meaning exactly what it
    * meant (the moved rows sit at `next ≥ K` and stay visible; rows it
    * superseded were dropped in the fold). Watermark shards are NEVER
    * cleared here — `(id, K)` may still suppress rows in un-folded
    * shards — and the folded shards' commit MARKERS are never deleted
    * either (a marker's existence is what keeps a watermark naming it
    * valid; only [[compactAll]], which clears the watermarks too, may
    * drop markers). `deferDeletes = true` additionally keeps the folded
    * postings data for older manifests' pins ([[gcUnpinned]] reclaims).
    * Returns the folded ids (empty when fewer than 2 qualify). */
  def compactSmall(spark: SparkSession, path: String, maxShardBytes: Long,
                   partitions: Int = 8,
                   deferDeletes: Boolean = false): Seq[Int] = {
    val nonce = IndexIO.acquireMaintLock(spark, path)
    try {
      IndexIO.gcStaging(spark, path)
      IndexIO.gcClaims(spark, path)
      val obsDels = IndexIO.shardIds(spark, s"$path/deletes")
      val live = IndexIO.liveCommittedIds(spark, path)
      require(live.nonEmpty, s"no committed shards under $path — not a TrigramStore?")
      val fold = live.filter(k =>
        IndexIO.dirBytes(spark, s"$path/postings/shard=$k") <= maxShardBytes)
      if (fold.length < 2) return Nil
      val folded = postingsOf(spark, path, fold, obsDels)
      val next = IndexIO.claimShardId(spark, path, Tables)
      IndexIO.heartbeatMaintLock(spark, path, nonce)
      val stage = IndexIO.shardStagingFor(s"$path/postings")
      IndexIO.sortedLayout(folded, foldWidth(spark, path, fold, partitions),
          Seq("gram", "col_id", "osm_id"), rangeCols = Seq("gram"))
        .write.mode(SaveMode.Overwrite).parquet(stage)
      IndexIO.publishShard(spark, stage, s"$path/postings/shard=$next")
      IndexIO.commitShard(spark, path, next, replaces = fold,
        maintLockNonce = nonce)
      // a size cut that happened to select EVERY live shard is a
      // fold-all: all observed watermarks are fully materialized, so
      // advance the high-mark exactly as [[compactAll]] does
      if (fold.toSet == live.toSet)
        writeApplied(spark, path, obsDels.maxOption.getOrElse(-1))
      if (!deferDeletes)
        for (k <- fold) IndexIO.deleteDir(spark, s"$path/postings/shard=$k")
      fold
    } finally IndexIO.releaseMaintLock(spark, path, nonce)
  }

  /** Fold-output write width, SIZE-ROUTED (the [[IndexIO.smallAggHint]]
    * discipline applied to the fold's layout): range-partitioning into
    * `partitions` pays a bounds-SAMPLING job plus a shuffle, which is
    * pure scheduler floor when the input fold set is small — one
    * coalesced partition keeps the gram-sorted row-group pruning (the
    * whole output is one sorted run) with zero extra jobs. Past the
    * bound the range layout is the right one and wins back the
    * parallelism. Driver-side byte listing only. */
  private def foldWidth(spark: SparkSession, path: String,
                        foldSet: Seq[Int], partitions: Int,
                        maxBytes: Long = 256L << 20): Int = {
    val bytes = foldSet.map(k =>
      IndexIO.dirBytes(spark, s"$path/postings/shard=$k")).sum
    if (bytes <= maxBytes) 1 else partitions
  }

  /** WHEN-to-compact policy — [[ShardedIndex.maintain]]'s decision order
    * for this family ([[ShardedIndex]] itself computes dead mass
    * from plain id-tombstones, which over-counts under watermarks: a
    * re-append watermark `(id, K)` kills only the id's PRE-`K` rows, so
    * the dead fraction here comes from the store's own exact
    * subtraction — one bounded two-count aggregate over the postings):
    *
    *   1. dead (watermark-superseded) posting fraction ≥ `tombstoneFrac`
    *      → [[compactAll]] (reclaims the dead mass index-wide and, via
    *      the `_APPLIED` mark, lets [[gcUnpinned]] retire the watermark
    *      shards);
    *   2. live shards > `maxShards` → [[compactSmall]] at the
    *      (n−maxShards+1)-th smallest shard's size, so the count lands
    *      back ≤ `maxShards` at cost proportional to the small tail;
    *   3. otherwise nothing.
    *
    * `deferDeletes` threads through both routes — `true` is the
    * pin-safe mode [[graft.etl.GazetteerBuilder.maintainSnapshots]]
    * runs under. */
  def maintain(spark: SparkSession, path: String, maxShards: Int = 8,
               tombstoneFrac: Double = 0.3, partitions: Int = 8,
               deferDeletes: Boolean = false): MaintainReport = {
    require(maxShards >= 1, s"maxShards must be >= 1, got $maxShards")
    val live = IndexIO.liveCommittedIds(spark, path)
    require(live.nonEmpty, s"no committed shards under $path")
    val delShards = IndexIO.shardIds(spark, s"$path/deletes")
    val deadFrac =
      if (delShards.isEmpty) 0.0
      else {
        // ONE pass for total + dead (the old total-count-then-kept-count
        // form read the whole postings table twice, two scheduler
        // round-trips); coalesced to one partition while the committed
        // bytes are provably small ([[IndexIO.smallAggHint]]) so the
        // aggregate is a single job with no exchange
        val flagged = postingsDeadFlagged(spark, path, live, delShards)
        val row = IndexIO.smallAggHint(spark, path, "postings", live, flagged)
          .agg(count(lit(1)).as("total"),
            sum(when(col("_dead"), 1L).otherwise(0L)).as("dead"))
          .head()
        val total = row.getLong(0)
        if (total == 0L) 0.0 else row.getLong(1).toDouble / total.toDouble
      }
    if (deadFrac >= tombstoneFrac) {
      val folded = compactAll(spark, path, partitions, deferDeletes)
      MaintainReport(1, deadFrac, "compact", folded)
    } else if (live.size > maxShards) {
      val sizes = live.map(k =>
        IndexIO.dirBytes(spark, s"$path/postings/shard=$k")).sorted
      val folded = compactSmall(spark, path, sizes(live.size - maxShards),
        partitions, deferDeletes)
      MaintainReport(live.size - folded.size + (if (folded.nonEmpty) 1 else 0),
        deadFrac, "compactSmall", folded)
    } else MaintainReport(live.size, deadFrac, "none", Nil)
  }

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

  private def fsOf(spark: SparkSession, path: String) =
    new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def writeApplied(spark: SparkSession, path: String, mark: Int): Unit = {
    if (mark < 0) return
    val fs = fsOf(spark, path)
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
    val fs = fsOf(spark, path)
    val p = appliedMarkPath(path)
    if (!fs.exists(p)) return -1
    val len = fs.getFileStatus(p).getLen.toInt
    val buf = new Array[Byte](len)
    val in = fs.open(p)
    try in.readFully(0, buf) finally in.close()
    new String(buf, java.nio.charset.StandardCharsets.UTF_8).trim.toIntOption
      .getOrElse(throw new java.io.IOException(
        s"corrupt applied-mark under $path/deletes — delete _APPLIED to " +
          "reset (gc then conservatively keeps all watermark shards)"))
  }

  /** Reclaim REPLACES-hidden (folded-away) shards and APPLIED watermark
    * shards that no surviving snapshot pins — the deferred half of a
    * pin-safe [[compactAll]]/[[compactSmall]]. `pins` is the union of
    * every KEPT manifest's pinned state (the caller lists them after
    * version retention ran); live shards are never touched.
    *
    * Two mechanical guards make this safe to call at any point in the
    * maintenance cadence (not just "immediately after a fold with no
    * deletes since", which used to be contractual):
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
    val replacesOf: Map[Int, Set[Int]] = committed.map { k =>
      k -> readReplaces(spark, path, k)
    }.toMap
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

  private def readReplaces(spark: SparkSession, path: String, k: Int): Set[Int] = {
    val fs = fsOf(spark, path)
    val rp = new org.apache.hadoop.fs.Path(s"$path/commits/shard=$k/REPLACES")
    if (!fs.exists(rp)) return Set.empty
    val buf = new Array[Byte](fs.getFileStatus(rp).getLen.toInt)
    val in = fs.open(rp)
    try in.readFully(0, buf) finally in.close()
    new String(buf, java.nio.charset.StandardCharsets.UTF_8)
      .split("\\s+").filter(_.nonEmpty).map(_.toInt).toSet
  }
}

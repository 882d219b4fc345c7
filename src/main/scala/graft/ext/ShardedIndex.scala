package graft.ext

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** What a [[ShardedIndex.maintain]] decision did: the observability
  * surface a crawl-loop's operator reads instead of shard listings.
  * `action` is one of `"none"`, `"compactSmall"`, `"compact"`. */
case class MaintainReport(
    liveShards: Int, deadFrac: Double, action: String, folded: Seq[Int])

/** The shard-commit protocol of the four persisted index families
  * ([[TextIndex]], [[VectorIndex]], [[MinHashIndex]], [[TrigramStore]]),
  * written once. Each family describes itself with a
  * [[ShardedIndex.Family]] value and keeps only its build, serve and
  * per-table write code; every public append/compact/maintain method of
  * a family is a call into this object.
  *
  * Protocol: an append claims a fresh shard id ([[IndexIO.claimShardId]]
  * — concurrent appenders each win a distinct id, ids are never
  * reused), writes every table shard under ONE hidden stage dir,
  * publishes each with an atomic rename, and lands the
  * `commits/shard=K` marker LAST; readers prune every table to live
  * committed ids, so a crash anywhere before the marker leaves
  * reader-invisible garbage that [[reconcile]] reclaims. Deletes are
  * shards under `deletes/`, stored and applied by the family's
  * [[ShardedIndex.DeleteModel]]: index-wide id tombstones
  * ([[ShardedIndex.Tombstones]], the first three families) or
  * per-id watermarks sequenced against markers (TrigramStore's). Folds
  * ([[compactTiered]]) swap their fold set for one new shard with a
  * single REPLACES marker under the maintenance lock; [[compact]]
  * republishes the whole root (the layout-migration op).
  */
private[ext] object ShardedIndex {

  /** How a family stores and applies `deletes/` — a format fact of the
    * family, not a caller switch. It supplies what a fold and
    * [[maintain]] need to know about deletes. */
  trait DeleteModel {
    /** `rows` for [[Family.writeShard]]: `shards` of each table (the
      * whole table when empty — a legacy layout) with the deletes
      * applied (`dels`: the delete shards a fold observed before its
      * live listing), `shard` column dropped. */
    def foldRows(spark: SparkSession, path: String, f: Family, shards: Seq[Int],
                 dels: Seq[Int]): String => DataFrame
    /** Per-shard `(rows, dead rows)` of the doc table over `live`, from
      * ONE aggregate; empty when nothing is deleted (no job at all).
      * Feeds both [[maintain]]'s index-wide dead fraction and
      * [[compactTiered]]'s tombstone-heavy shard choice. */
    def deadByShard(spark: SparkSession, path: String, f: Family,
                    live: Seq[Int]): Map[Int, (Long, Long)]
    /** True when a fold leaves its folded shards and markers on disk
      * (the family's own gc reclaims them); [[reconcile]] then deletes
      * no marker and only table shards no marker names. */
    def keepsFolded: Boolean
    /** Runs after a fold of EVERY live shard landed its marker: all
      * observed delete shards `dels` are applied in the folded output. */
    def foldedAll(spark: SparkSession, path: String, dels: Seq[Int]): Unit
  }

  /** Index-wide id tombstones: `deletes/` shards store `idCol`. Serving
    * subtracts the set until a fold drops the rows physically; a fold
    * deletes what it folded, and a fold of every live shard clears the
    * tombstone shards it observed. */
  object Tombstones extends DeleteModel {
    /** Tombstones subtracted with the serving path's routing. */
    def foldRows(spark: SparkSession, path: String, f: Family, shards: Seq[Int],
                 dels: Seq[Int]): String => DataFrame = t =>
      IndexIO.subtractTombstones(spark, path,
        IndexIO.readCommitted(spark, path, t, shards).drop("shard"),
        f.idCols.getOrElse(t, f.idCol), f.idCol)

    /** Routed like serving: a small tombstone set rides the scan as
      * literals (coalesced to one job when the table is small); past the
      * driver-read bound — a mass takedown — a plain left join against
      * the tombstone table. */
    def deadByShard(spark: SparkSession, path: String, f: Family,
                    live: Seq[Int]): Map[Int, (Long, Long)] = {
      val docs = IndexIO.readCommitted(spark, path, f.docTable, live)
        .select(col("shard"), col(f.idCol))
      val counted = IndexIO.readIdShards(spark, s"$path/deletes", f.idCol) match {
        case Some(ids) if ids.isEmpty => return Map.empty
        case Some(ids) =>
          IndexIO.smallAggHint(spark, path, f.docTable, live, docs)
            .groupBy("shard").agg(count(lit(1)),
              coalesce(sum(when(col(f.idCol).isInCollection(ids.toSeq), 1L)), lit(0L)))
        case None =>
          val dels = IndexIO.readTable(spark, path, "deletes")
            .select(col(f.idCol)).distinct().withColumn("t", lit(1L))
          docs.join(dels, Seq(f.idCol), "left")
            .groupBy("shard").agg(count(lit(1)), coalesce(sum(col("t")), lit(0L)))
      }
      collectCounts(counted)
    }

    val keepsFolded = false

    def foldedAll(spark: SparkSession, path: String, dels: Seq[Int]): Unit =
      for (k <- dels) IndexIO.deleteDir(spark, s"$path/deletes/shard=$k")
  }

  /** `(shard, rows, dead)` rows of a per-shard count aggregate as a map. */
  def collectCounts(counted: DataFrame): Map[Int, (Long, Long)] =
    counted.collect().map(r => r.getInt(0) -> ((r.getLong(1), r.getLong(2)))).toMap

  /** A family's shape. `tables` are the shard-partitioned tables an
    * append writes and a fold rewrites; `docTable`/`idCol` the table
    * and column that count documents (tombstone shards store `idCol`);
    * `idCols` names a table's doc-id column where it differs from
    * `idCol`; `copied` are unsharded tables a full [[compact]] carries
    * over unchanged. `writeShard(rows, stageDir, k, partitions)` writes
    * `stageDir/<table>/shard=k` for every table from `rows(table)` —
    * the delete-applied rows of the folded shards, `shard` column
    * dropped. `deletes` is the delete model. A fold whose input shards
    * total at most `oneFileFoldBytes` writes one partition (no
    * bounds-sampling job or shuffle); 0 keeps `partitions`. */
  case class Family(
      name: String,
      tables: Seq[String],
      docTable: String,
      idCol: String,
      writeShard: (String => DataFrame, String, Int, Int) => Unit,
      idCols: Map[String, String] = Map.empty,
      copied: Seq[String] = Nil,
      deletes: DeleteModel = Tombstones,
      oneFileFoldBytes: Long = 0L)

  /** Restore exactly the last committed state: drop table shards with
    * no live marker (a crash before the marker rename, or shards a fold
    * REPLACED whose post-commit cleanup crashed) and markers with
    * missing table shards (external tampering — serving partial state
    * silently mis-scores or loses rows). Markers delete FIRST (publish
    * order mirrored: marker last in, first out), so a crash
    * mid-reconcile can never manufacture a committed-but-tableless
    * shard. SAFE under concurrent appends: commits list BEFORE tables,
    * so an id committing mid-reconcile has its tables visible to the
    * later listing, and the appender leases ([[IndexIO.leasedIds]]) list
    * LAST, so every table shard the listing saw has its claim in that
    * set — a live appender's published-but-uncommitted shards survive.
    * An index with no markers at all is a legacy pre-marker layout:
    * only shards present in every table are kept (its single-shard or
    * flat layout, which [[compact]] then migrates). A delete model that
    * keeps folded shards ([[DeleteModel.keepsFolded]]) keeps every
    * marker and the table shards any marker names: only marker-less
    * shards (a crashed append) go. */
  private def reconcile(spark: SparkSession, path: String, f: Family): Unit = {
    val committed = IndexIO.committedIds(spark, path).toSet
    val live = IndexIO.liveCommittedIds(spark, path).toSet
    val perTable = f.tables.map(t => IndexIO.shardIds(spark, s"$path/$t").toSet)
    val leased = IndexIO.leasedIds(spark, path)
    val complete = perTable.reduce(_ intersect _)
    val keep =
      if (committed.isEmpty) complete
      else if (f.deletes.keepsFolded) committed
      else live intersect complete
    for (k <- committed diff keep if !leased(k))
      IndexIO.deleteDir(spark, s"$path/commits/shard=$k")
    for ((t, ids) <- f.tables.zip(perTable); k <- ids diff keep if !leased(k))
      IndexIO.deleteDir(spark, s"$path/$t/shard=$k")
  }

  /** Tombstone the `inputCol` ids of `ids`: one tiny atomic shard under
    * `deletes/` storing them as `idCol` ([[IndexIO.publishIdShard]]).
    * Existing shard files are untouched; serving subtracts the set
    * until a fold drops the rows physically. */
  def delete(ids: DataFrame, path: String, inputCol: String, idCol: String): Unit = {
    require(ids.columns.contains(inputCol),
      s"delete ids need a $inputCol column, got ${ids.columns.mkString(", ")}")
    IndexIO.publishIdShard(ids.select(col(inputCol).as(idCol)), path, idCol)
  }

  /** The stored tombstone set, if any shard exists — None keeps a
    * tombstone-free serving plan free of an empty-relation join. */
  def tombstones(spark: SparkSession, path: String, idCol: String): Option[DataFrame] =
    if (IndexIO.shardIds(spark, s"$path/deletes").nonEmpty)
      Some(IndexIO.readTable(spark, path, "deletes").select(idCol))
    else None

  private def shardBytes(spark: SparkSession, path: String, f: Family, k: Int): Long =
    f.tables.map(t => IndexIO.dirBytes(spark, s"$path/$t/shard=$k")).sum

  private def hiddenStage(path: String): String =
    s"$path/_append-staging-${java.util.UUID.randomUUID().toString.take(8)}"

  private def publishStaged(spark: SparkSession, path: String, f: Family,
                            stage: String, k: Int): Unit = {
    for (t <- f.tables)
      IndexIO.publishShard(spark, s"$stage/$t/shard=$k", s"$path/$t/shard=$k")
    IndexIO.deleteDir(spark, stage)
  }

  /** Append one batch as ONE NEW committed shard of every table:
    * existing shard files are never read, rewritten or moved, so an
    * append costs only the batch. `write(stageDir, k)` writes
    * `stageDir/<table>/shard=k` for every table.
    *
    * A non-empty `tag` is the batch's idempotency identity: if a live
    * marker already carries it the batch has committed (an
    * at-least-once retry after a crash between the marker rename and
    * the caller's own checkpoint) and the append is a no-op, checked
    * before claiming so the skip leaves no garbage; folds carry tags
    * forward, so the guard survives compaction.
    *
    * A flat (pre-shard) or pre-marker layout is refused — one
    * `compact` migrates it. Committed-but-incomplete shards are
    * repaired eagerly (safe under concurrency, unlike the full
    * [[reconcile]]). The claim heartbeats AFTER the batch write, so the
    * lease bounds only the publish→commit tail; the marker commit then
    * fails loud if the lease lapsed anyway, or withdraws itself if its
    * tables were reclaimed before it landed (`verifyTables`). */
  def append(spark: SparkSession, path: String, f: Family, tag: String = "")(
      write: (String, Int) => Unit): Unit = {
    if (tag.nonEmpty && IndexIO.committedTags(spark, path).contains(tag)) {
      System.err.println(s"[graft] append to $path: batch tag '$tag' " +
        "already committed — idempotent replay skip")
      return
    }
    val migrate = s"run ${f.name}.compact(spark, path) once to migrate before appending"
    require(!f.tables.exists(t => IndexIO.hasFlatFiles(spark, s"$path/$t")),
      s"index at $path uses the pre-shard flat layout; $migrate")
    require(IndexIO.committedIds(spark, path).nonEmpty,
      s"index at $path predates the commit-marker layout; $migrate")
    IndexIO.dropIncompleteCommitted(spark, path, f.tables)
    val k = IndexIO.claimShardId(spark, path, f.tables)
    val stage = hiddenStage(path)
    write(stage, k)
    IndexIO.heartbeatClaim(spark, path, k)
    publishStaged(spark, path, f, stage, k)
    IndexIO.commitShard(spark, path, k, enforceLease = true,
      verifyTables = f.tables, tags = Seq(tag).filter(_.nonEmpty))
  }

  /** Fold every live shard back to one `shard=0`, drop deleted rows
    * for good and clear the delete set (the staging root carries no
    * `deletes/`), then republish the WHOLE root through
    * [[IndexIO.publish]]'s aside-protected rename. Also the layout
    * migration: a flat or pre-marker legacy index is read whole and
    * republished sharded with its marker. Idempotency tags of the folded
    * shards ride into the one new marker. EXCLUSIVE of appends (the
    * root rename would strand a concurrent appender's publishes); a
    * live crawl loop compacts with [[compactTiered]] via [[maintain]]. */
  def compact(spark: SparkSession, path: String, f: Family, partitions: Int): Unit = {
    reconcile(spark, path, f)
    IndexIO.gcStaging(spark, path) // reclaim crashed-build staging dirs
    val dels = IndexIO.shardIds(spark, s"$path/deletes")
    val live = IndexIO.liveCommittedIds(spark, path)
    // a young uncommitted orphan survives the lease-honoring reconcile:
    // read live shards only, and a marker-less table whole only in a
    // layout a legacy index can have
    if (live.isEmpty)
      f.tables.foreach(t => IndexIO.requireCommittedOrLegacy(spark, path, t, live))
    val staging = IndexIO.stagingFor(path)
    for (t <- f.copied)
      IndexIO.readTable(spark, path, t)
        .write.mode(SaveMode.Overwrite).parquet(s"$staging/$t")
    f.writeShard(f.deletes.foldRows(spark, path, f, live, dels), staging, 0, partitions)
    IndexIO.commitShard(spark, staging, 0,
      tags = live.flatMap(k => IndexIO.shardTags(spark, path, k)))
    IndexIO.publish(spark, staging, path)
  }

  /** Fold shards into ONE new shard under the live root. With
    * `maxShardBytes` (size-tiered, `compactSmall`): only shards whose
    * table bytes are ≤ it, or that are tombstone-heavy (at least one
    * and ≥ `tombstoneFrac` of their doc rows deleted), fold; fewer than
    * two small shards and no heavy one is nothing to do (`Nil`). Without
    * it (`compactAllInPlace`): every live shard folds. Unfolded shards
    * stay byte-identical, so the bytes rewritten are proportional to
    * the small/dead tail.
    *
    * One REPLACES marker swaps the fold set for the new shard in a
    * single rename. Under tombstones the superseded shards are deleted
    * after it (a crash in between leaves reader-invisible garbage for
    * [[reconcile]]); a delete model that keeps folded shards leaves them
    * for its own gc. A fold that took every live shard applied every
    * delete shard observed at entry ([[DeleteModel.foldedAll]]).
    * Runs under the maintenance lock ([[IndexIO.acquireMaintLock]]): a
    * second maintainer fails loud instead of folding the same shards
    * twice. Safe under concurrent appends — their shards land outside
    * the fold set and the observed deletes. `dead` supplies per-shard
    * `(rows, dead)` counts a caller already aggregated ([[maintain]]);
    * absent, the size-tiered route runs [[DeleteModel.deadByShard]]
    * itself. Either way only shards of the live listing taken under the
    * lock can fold. Returns the folded ids. */
  def compactTiered(spark: SparkSession, path: String, f: Family,
                    maxShardBytes: Option[Long], partitions: Int,
                    tombstoneFrac: Double,
                    dead: Option[Map[Int, (Long, Long)]] = None): Seq[Int] = {
    val lock = IndexIO.acquireMaintLock(spark, path)
    try {
      reconcile(spark, path, f)
      IndexIO.gcStaging(spark, path)
      IndexIO.gcClaims(spark, path) // bound historical claim dirs (single-maintainer)
      // observed BEFORE the live listing: only these may clear on
      // fold-all. Listed after it, a delete landing in the gap could
      // target a shard that also committed in the gap (outside the fold)
      // and clearing it would resurrect the doc; listed before, any
      // observed delete targeting a later shard is provably a
      // delete-before-append (an intended re-add)
      val obsDels = IndexIO.shardIds(spark, s"$path/deletes")
      val live = IndexIO.liveCommittedIds(spark, path)
      require(live.nonEmpty,
        s"index at $path has no committed shards; ${f.name} compaction needs the marker layout")
      val fold = maxShardBytes match {
        case None => live
        case Some(bytes) =>
          val small = live.filter(k => shardBytes(spark, path, f, k) <= bytes)
          val counts = dead.getOrElse(f.deletes.deadByShard(spark, path, f, live))
          val heavy = live.filter(k => counts.get(k).exists { case (total, d) =>
            d > 0L && d.toDouble >= tombstoneFrac * total })
          if (small.length < 2 && heavy.isEmpty) return Nil
          (small ++ heavy).distinct.sorted
      }
      val next = IndexIO.claimShardId(spark, path, f.tables)
      // the write phase can be long at scale: maintLockMs then bounds
      // only un-heartbeated gaps
      IndexIO.heartbeatMaintLock(spark, path, lock)
      val width =
        if (f.oneFileFoldBytes > 0L &&
            fold.map(k => shardBytes(spark, path, f, k)).sum <= f.oneFileFoldBytes) 1
        else partitions
      val stage = hiddenStage(path)
      f.writeShard(f.deletes.foldRows(spark, path, f, fold, obsDels), stage, next, width)
      publishStaged(spark, path, f, stage, next)
      IndexIO.commitShard(spark, path, next, replaces = fold, maintLockNonce = lock,
        tags = fold.flatMap(k => IndexIO.shardTags(spark, path, k)))
      if (!f.deletes.keepsFolded) {
        for (k <- fold) IndexIO.deleteDir(spark, s"$path/commits/shard=$k")
        for (t <- f.tables; k <- fold) IndexIO.deleteDir(spark, s"$path/$t/shard=$k")
      }
      if (fold == live) f.deletes.foldedAll(spark, path, obsDels)
      fold
    } finally IndexIO.releaseMaintLock(spark, path, lock)
  }

  /** WHEN to compact — the LSM policy a long-lived crawl loop calls
    * after each ingest generation: live shards ≤ `maxShards` and the
    * index-wide dead-row fraction < `tombstoneFrac`, at amortized cost
    * (the usual call decides "nothing to do" from listings plus one
    * bounded aggregate). Decision order:
    *  1. dead fraction ≥ `tombstoneFrac` → fold-all in place
    *     (`compactAllInPlace`), which also retires the observed delete
    *     shards (shard folds only drop deletes inside them, so the set
    *     would otherwise grow without bound);
    *  2. live shards > `maxShards` → `compactSmall` with the byte
    *     threshold AT the (n−maxShards+1)-th smallest shard, so at
    *     least that many fold into one and the count lands back
    *     ≤ `maxShards`, at a cost proportional to the small tail;
    *  3. otherwise nothing.
    * Both routes stay inside the live root under the maintenance lock,
    * so `maintain` is safe under concurrent appends and deletes. */
  def maintain(spark: SparkSession, path: String, f: Family, maxShards: Int,
               tombstoneFrac: Double, partitions: Int): MaintainReport = {
    require(maxShards >= 1, s"maxShards must be >= 1, got $maxShards")
    val live = IndexIO.liveCommittedIds(spark, path)
    require(live.nonEmpty, s"no committed shards under $path")
    // one aggregate feeds both the decision and the size-tiered fold's
    // tombstone-heavy choice
    val dead = f.deletes.deadByShard(spark, path, f, live)
    val total = dead.values.map(_._1).sum
    val deadFrac = if (total == 0L) 0.0 else dead.values.map(_._2).sum.toDouble / total
    if (deadFrac >= tombstoneFrac) {
      val folded = compactTiered(spark, path, f, None, partitions, 0.5)
      MaintainReport(live.size - folded.size + 1, deadFrac, "compact", folded)
    } else if (live.size > maxShards) {
      val sizes = live.map(k => shardBytes(spark, path, f, k)).sorted
      val folded = compactTiered(spark, path, f, Some(sizes(live.size - maxShards)),
        partitions, tombstoneFrac, Some(dead))
      MaintainReport(live.size - folded.size + (if (folded.nonEmpty) 1 else 0),
        deadFrac, "compactSmall", folded)
    } else MaintainReport(live.size, deadFrac, "none", Nil)
  }
}

package graft.ext

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted MinHash/LSH text-dedup index — the text twin of
  * [[VectorIndex]]: compute signatures ONCE, store them plus their
  * band buckets as tables, and serve candidate-pair queries from the
  * stored layout. [[Dedup.minhashLshPairs]] is the build-inline form;
  * its `localCheckpoint` materialization is the single-JVM shortcut
  * (executor-local storage dies with executors on a real cluster) —
  * this index is the durable replacement for the serving path.
  *
  * Layout is the 100 TB point: `signatures` (id, m0..m{n-1}) range-laid
  * and sorted by id, so the pair-scoring joins read id-clustered row
  * groups; `buckets` (band, bucket, id) range-laid and sorted by
  * (band, bucket), so the LSH self-join shuffles pre-clustered keys and
  * a targeted bucket probe prunes row groups (the [[graft.etl.TrigramIndex]]
  * gram-sorted-postings lever). Publication is one directory rename
  * ([[IndexIO]]) — readers never see signatures from one build paired
  * with buckets from another — and incremental [[append]]s follow the
  * [[TextIndex]] shard-commit protocol: table shards publish first, a
  * `commits/shard=K` marker publishes LAST, and [[pairs]] prunes both
  * tables to committed shard ids, so a mid-append crash is invisible
  * to readers and safe to retry.
  */
object MinHashIndex {

  /** (id, band, bucket) band keys for a signature relation — the SAME
    * key construction as the inline [[Dedup.minhashLshPairs]], factored
    * so the persisted and inline paths cannot drift. `carry` appends
    * extra signature columns to each band row (the inline form carries
    * the full signature through the band join so candidate scoring
    * needs no second join against the signature relation). */
  def bands(sig: DataFrame, numHashes: Int, rowsPerBand: Int,
            carry: Seq[String] = Nil): DataFrame = {
    val numBands = numHashes / rowsPerBand
    (0 until numBands).map { b =>
      val key = concat_ws("_",
        (lit(b) +: (0 until rowsPerBand).map(r => col(s"m${b * rowsPerBand + r}"))): _*)
      sig.select(col("id") +: lit(b).as("band") +: key.as("bucket") +:
        carry.map(col): _*)
    }.reduce(_ union _)
  }

  /** Build and publish the index from an (id, tok) relation (the
    * [[Dedup.docTokens]] / [[Dedup.docShingles]] shapes). Signatures are
    * written first, then bands are derived from the WRITTEN table (one
    * aggregate runs once; re-using the unmaterialized plan would re-run
    * the tokenize→min aggregate per band branch — the same trap the
    * inline form needs its checkpoint for). */
  def write(tokens: DataFrame, path: String, numHashes: Int,
            rowsPerBand: Int, partitions: Int = 8): Unit =
    writeFromSignatures(Dedup.minhashSignature(tokens, numHashes),
      path, numHashes, rowsPerBand, partitions)

  /** [[write]] from an already-computed signature relation (id,
    * m0..m{n-1}) — the entry point for callers that hold signatures
    * rather than tokens ([[Dedup.minhashLshPairs]]'s durable route).
    * Same staged layout, same single-rename publish. */
  def writeFromSignatures(sig: DataFrame, path: String, numHashes: Int,
                          rowsPerBand: Int, partitions: Int = 8): Unit = {
    val staging = IndexIO.stagingFor(path)
    buildStaged(sig, staging, numHashes, rowsPerBand, partitions)
    IndexIO.publish(sig.sparkSession, staging, path)
  }

  /** Both tables of a fresh index written under `staging` — the shared
    * build step of the in-place ([[writeFromSignatures]]) and versioned
    * ([[writeVersioned]]) publish routes. */
  private def buildStaged(sig: DataFrame, staging: String, numHashes: Int,
                          rowsPerBand: Int, partitions: Int): Unit = {
    require(numHashes % rowsPerBand == 0,
      s"numHashes=$numHashes must be a multiple of rowsPerBand=$rowsPerBand")
    val spark = sig.sparkSession
    // persist: the signature write job materializes the cache, and the
    // band derivation's per-band branches read IT — one aggregate run,
    // without the former write-out/read-back of the signature parquet
    // (lineage kept, unlike a checkpoint, so an executor loss recomputes).
    // Persisted through a DEFENSIVE derivation (`select("*")` is a new
    // plan node, so the cache entry is owned here): persisting the
    // caller's DataFrame directly would throw if they already persisted
    // it at a different level, and the finally-unpersist would silently
    // evict caller-owned cached blocks.
    val sigCached = sig.select("*")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      sigCached
        .repartitionByRange(partitions, col("id"))
        .sortWithinPartitions("id")
        .write.mode(SaveMode.Overwrite).parquet(s"$staging/signatures/shard=0")
      bands(sigCached, numHashes, rowsPerBand)
        .repartitionByRange(partitions, col("band"), col("bucket"))
        .sortWithinPartitions("band", "bucket", "id")
        .write.mode(SaveMode.Overwrite).parquet(s"$staging/buckets/shard=0")
    } finally sigCached.unpersist(false)
    // the shard-commit marker ships with the build (whole staging dir
    // publishes in one rename), so every index born here is marker-aware
    IndexIO.commitShard(spark, staging, 0)
  }

  /** Build and publish a NEW VERSION of the index under a versioned
    * root ([[IndexIO.publishVersioned]]): the object-store-safe serving
    * layout. Where [[write]] republishes in place (correct on
    * rename-atomic filesystems), this route gives every rebuild a fresh
    * immutable `v{N}` directory and flips a one-line CURRENT pointer —
    * readers ([[pairsCurrent]]) can never observe a partially-copied
    * index even where directory renames are copy+delete, and rollback
    * is [[IndexIO.setCurrent]] instead of a rebuild. Returns the
    * published version path (callers needing shard [[append]] target it
    * directly — appends stay within one version). */
  def writeVersioned(tokens: DataFrame, root: String, numHashes: Int,
                     rowsPerBand: Int, partitions: Int = 8): String = {
    val staging = IndexIO.stagingFor(root)
    buildStaged(Dedup.minhashSignature(tokens, numHashes), staging,
      numHashes, rowsPerBand, partitions)
    IndexIO.publishVersioned(tokens.sparkSession, staging, root)
  }

  /** [[pairs]] over whichever version CURRENT names — the read side of
    * [[writeVersioned]]. Resolution is one small-file read per query
    * (not per row); a publish that lands mid-query is invisible to it
    * (the resolved version dir is immutable). */
  def pairsCurrent(spark: SparkSession, root: String, numHashes: Int): DataFrame =
    pairs(spark, IndexIO.resolveCurrent(spark, root), numHashes)

  /** Path of the version CURRENT names — for callers composing their
    * own reads over the versioned layout (e.g. a crawl loop resolving
    * the bucket table as of each micro-batch:
    * [[graft.streaming.StreamOps.nearDupLoop]]'s `bucketsNow` reads
    * `currentVersion(...)/buckets`, so a [[writeVersioned]] publish
    * that lands between micro-batches is visible to the next batch —
    * the object-store-safe refresh, where in-place [[append]] is not
    * the protocol). One small-file read per call. */
  def currentVersion(spark: SparkSession, root: String): String =
    IndexIO.resolveCurrent(spark, root)

  /** The (id, band, bucket) table as the SERVING protocol sees it:
    * commit-marker-pruned (a concurrent [[append]]'s shard is invisible
    * until its marker lands; a crash orphan never serves) and
    * tombstone-pruned (a [[delete]]d doc stops colliding immediately,
    * before any compaction rewrites the files). A raw
    * `read.parquet(path + "/buckets")` skips BOTH prunes — fine for a
    * private fixture nothing mutates, wrong the moment another process
    * appends or deletes. This is the `bucketsNow` a concurrent crawl
    * loop should hand to [[graft.streaming.StreamOps.nearDupLoop]]. */
  def buckets(spark: SparkSession, path: String): DataFrame = {
    val committed = IndexIO.liveCommittedIds(spark, path)
    IndexIO.requireCommittedOrLegacy(spark, path, "buckets", committed)
    IndexIO.subtractTombstones(spark, path,
      IndexIO.readCommitted(spark, path, "buckets", committed), "id", "id")
  }

  /** MinHash width of a stored signature table (count of `mN` fields —
    * schema-derived so the check survives the `shard` partition
    * column). */
  private def storedWidth(sig: DataFrame): Int =
    sig.schema.fieldNames.count(_.matches("m\\d+"))

  /** Restore exactly the last committed state after a crash anywhere in
    * [[append]] (the [[TextIndex]] commit-marker reconcile, round-8
    * ported here): drop table shards with no commit marker (crash
    * before the marker rename — invisible to marker-aware readers but
    * poisonous to a retry, which would duplicate those ids' signature
    * rows and make [[pairs]]' scoring join emit duplicate rows, and to
    * [[compact]], which would bake the orphan into `shard=0`
    * permanently) and markers with missing table shards (external
    * tampering — serving a bucket hit without its signature rows
    * silently LOSES pairs, the worse failure). A retried append after
    * any crash re-signs its batch into a fresh consistent shard.
    *
    * Legacy pre-marker indexes (no `commits/` table) keep the old
    * pairwise reconcile: the old publish order (signatures first) makes
    * sig-without-bucket the only reachable crash orphan. */
  private def reconcileShards(spark: SparkSession, path: String): Unit = {
    val committed = IndexIO.committedIds(spark, path).toSet
    if (committed.isEmpty) {
      val sig = IndexIO.shardIds(spark, s"$path/signatures").toSet
      val bkt = IndexIO.shardIds(spark, s"$path/buckets").toSet
      (sig diff bkt).foreach(k =>
        IndexIO.deleteDir(spark, s"$path/signatures/shard=$k"))
      (bkt diff sig).foreach(k =>
        IndexIO.deleteDir(spark, s"$path/buckets/shard=$k"))
    } else {
      // keep only live-committed-AND-complete shards: an uncommitted
      // table shard is a crash leftover; a committed-but-incomplete one
      // is tampering whose surviving table shards must ALSO go (they are
      // permanent orphans — ids are claimed once, never reused); a
      // committed-but-REPLACED one is a [[compactSmall]] whose
      // post-commit cleanup crashed. Markers delete FIRST (publish order
      // mirrored: marker last in, first out) so a crash mid-reconcile
      // can never leave a committed id with missing table shards for
      // readers to serve. SAFE under concurrent appends (round 11):
      // shard ids under an active appender lease ([[IndexIO.leasedIds]])
      // are never touched, and commits list BEFORE tables so an id that
      // commits mid-reconcile has its tables visible to the later
      // listing — see the [[TextIndex]] reconcile note.
      val leased = IndexIO.leasedIds(spark, path)
      val live = IndexIO.liveCommittedIds(spark, path).toSet
      val sig = IndexIO.shardIds(spark, s"$path/signatures").toSet
      val bkt = IndexIO.shardIds(spark, s"$path/buckets").toSet
      val keep = live intersect (sig intersect bkt)
      (committed diff keep).filterNot(leased).foreach(k =>
        IndexIO.deleteDir(spark, s"$path/commits/shard=$k"))
      (sig diff keep).filterNot(leased).foreach(k =>
        IndexIO.deleteDir(spark, s"$path/signatures/shard=$k"))
      (bkt diff keep).filterNot(leased).foreach(k =>
        IndexIO.deleteDir(spark, s"$path/buckets/shard=$k"))
    }
  }

  /** Append new documents' signatures to a stored index WITHOUT a full
    * rebuild — the incremental-crawl refresh path (the [[VectorIndex.append]]
    * twin). New (id, tok) rows are signed with the same hash family and
    * written as ONE NEW shard of each table (`signatures/shard=K`,
    * `buckets/shard=K`): existing shard files are never read, rewritten,
    * or moved — at 100 TB an append costs only the new crawl batch, not
    * the corpus. Band keys for the new shard derive from its JUST-WRITTEN
    * signatures, and bands(A ∪ B) = bands(A) ∪ bands(B) (the key is a
    * pure per-row function), so the union-of-shards view is identical to
    * a rebuild's.
    *
    * Publish protocol (the [[TextIndex.append]] commit-marker design,
    * shared via [[IndexIO.commitShard]]): both table shards rename in
    * first, then a `commits/shard=K` marker renames in LAST —
    * its arrival is what makes the shard visible, since every reader
    * prunes both tables to committed shard ids (a partition-column
    * filter — directory pruning, no data read). A crash anywhere before
    * the marker leaves garbage that is invisible to readers and that
    * the next append/compact [[reconcileShards]] away, so a retry
    * re-signs its batch into a fresh consistent shard instead of
    * duplicating ids; a reader can never observe a partially-appended
    * index — not even the benign-but-visible orphan window the
    * pre-marker two-rename publish admitted.
    *
    * Equivalence: pairs after append(write(A), B) ≡ pairs after
    * write(A ∪ B) for disjoint id sets — spec-pinned, along with
    * pre-existing shard files staying byte-identical. Appending ids
    * already present would produce DUPLICATE signature rows, not merged
    * ones (MinHash of a doc's token set is not incrementally mergeable
    * from two partial token sets unless the split is exact) — callers
    * route re-crawled docs through [[Dedup.snapshotDiff]] and rebuild
    * or retire those ids first. Many tiny appends accumulate shards —
    * [[compact]] folds them back to one. */
  def append(tokens: DataFrame, path: String, numHashes: Int,
             rowsPerBand: Int, partitions: Int = 8): Unit = {
    require(numHashes % rowsPerBand == 0,
      s"numHashes=$numHashes must be a multiple of rowsPerBand=$rowsPerBand")
    val spark = tokens.sparkSession
    // an index written by the pre-shard flat layout cannot take shard
    // dirs next to its part-files (unreadable mixed depths); compact()
    // reads either layout and republishes sharded, so route through it
    require(!IndexIO.hasFlatFiles(spark, s"$path/signatures") &&
        !IndexIO.hasFlatFiles(spark, s"$path/buckets"),
      s"index at $path uses the pre-shard flat layout; " +
        "run MinHashIndex.compact(spark, path) once to migrate before appending")
    // marker-aware appends need a commits table to sequence against; an
    // index written before the marker layout migrates the same way the
    // flat layout did — one compact republishes it marker-aware
    require(IndexIO.committedIds(spark, path).nonEmpty,
      s"index at $path predates the commit-marker layout; " +
        "run MinHashIndex.compact(spark, path) once to migrate before appending")
    // a numHashes that disagrees with the stored signature width would
    // silently band the new shard with different keys; fail loudly
    // against the stored schema instead (id + m0..m{n-1} + shard)
    val stored = storedWidth(IndexIO.readTable(spark, path, "signatures"))
    require(stored == numHashes,
      s"stored index at $path has $stored minhashes, " +
        s"append called with numHashes=$numHashes")
    // committed-but-incomplete shards (tampering) are repaired eagerly —
    // safe under concurrency, unlike the full reconcile (compact-only)
    IndexIO.dropIncompleteCommitted(spark, path, Seq("signatures", "buckets"))
    // atomic shard-id claim ([[IndexIO.claimShardId]]): concurrent
    // appenders each win a distinct id (losers retry), ids are never
    // reused, and no full reconcile runs here — so parallel ingest jobs
    // cannot clobber each other's staging or delete each other's
    // in-flight shards; crash garbage stays reader-invisible until the
    // next compact reclaims it
    val next = IndexIO.claimShardId(spark, path, Seq("signatures", "buckets"))
    // SMALL-BATCH driver route (the [[TextIndex]] writeShardTablesDriver
    // treatment): a streaming crawl generation is a few thousand docs,
    // and the Spark path pays a persist + two write jobs (signatures,
    // buckets) of scheduling floor to persist a few hundred KB of
    // 8-longs-per-doc signatures. Bounded collect + scalar minhash twin
    // + parquet Group writes; falls back past the bound.
    if (partitions == 1 &&
        appendDriver(tokens, path, numHashes, rowsPerBand, next)) {
      IndexIO.commitShard(spark, path, next, enforceLease = true,
        verifyTables = Seq("signatures", "buckets"))
      return
    }
    val sigStaging = IndexIO.shardStagingFor(s"$path/signatures")
    // persist, as in [[buildStaged]]: the signature write materializes
    // the cache; the band branches read it instead of re-running the
    // tokenize→min aggregate or re-reading the just-written parquet
    val newSig = Dedup.minhashSignature(tokens, numHashes)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // partitions == 1 is the SMALL-BATCH route (streaming crawl
      // generations): coalesce keeps the same globally-sorted one-file
      // layout without repartitionByRange's extra bounds-sampling job
      (if (partitions == 1) newSig.coalesce(1)
       else newSig.repartitionByRange(partitions, col("id")))
        .sortWithinPartitions("id")
        .write.mode(SaveMode.Overwrite).parquet(sigStaging)
      // refresh the lease AFTER the signature write (the slow phase —
      // it materializes the whole tokenize→min aggregate), BEFORE the
      // first publish: the lease then bounds the publish/bands/commit
      // tail, not the batch write — see [[TextIndex.append]]
      IndexIO.heartbeatClaim(spark, path, next)
      IndexIO.publishShard(spark, sigStaging, s"$path/signatures/shard=$next")
      val bktStaging = IndexIO.shardStagingFor(s"$path/buckets")
      val newBands = bands(newSig, numHashes, rowsPerBand)
      (if (partitions == 1) newBands.coalesce(1)
       else newBands.repartitionByRange(partitions, col("band"), col("bucket")))
        .sortWithinPartitions("band", "bucket", "id")
        .write.mode(SaveMode.Overwrite).parquet(bktStaging)
      IndexIO.publishShard(spark, bktStaging, s"$path/buckets/shard=$next")
    } finally newSig.unpersist(false)
    // marker LAST: this rename is the commit point; verifyTables closes
    // the check-to-rename TOCTOU (marker withdrawn if the tables were
    // reclaimed before it landed)
    IndexIO.commitShard(spark, path, next, enforceLease = true,
      verifyTables = Seq("signatures", "buckets"))
  }

  /** Driver-route bound: ≤ this many (id, tok) pair rows collect in one
    * bounded job (two narrow columns — a few MB) and sign in
    * microseconds on the driver. */
  private val MaxDriverPairs = 1 << 18

  /** SMALL-BATCH driver route for [[append]] (the
    * [[TextIndex.writeShardTablesDriver]] treatment applied to MinHash):
    * collect the (id, tok) batch under a bound checked BY the limit
    * itself (`limit(max+1)` — over it, nothing more materializes and the
    * caller falls back to the distributed write), compute signatures
    * with the SCALAR minhash twin ([[Dedup.tokenHashStr]] ≡
    * [[Dedup.tokenHash]], spec-pinned; same affine family, same int64
    * arithmetic — multiset min equals the groupBy min bit-for-bit), and
    * write both table shards with the parquet Group API in the same
    * id-sorted / (band,bucket,id)-sorted layouts the Spark route lays
    * down — readers and the shard protocol can't tell. ONE bounded
    * Spark job (the collect) replaces persist + two write jobs of
    * scheduling floor. Returns whether it handled the write (rows with
    * NULL id/tok route back to the Spark path, which defines their
    * semantics). */
  private def appendDriver(tokens: DataFrame, path: String, numHashes: Int,
                           rowsPerBand: Int, next: Int): Boolean = {
    val spark = tokens.sparkSession
    val probe = tokens
      .select(col("id").cast("long").as("id"), col("tok").cast("string"))
      .limit(MaxDriverPairs + 1).collect()
    if (probe.length > MaxDriverPairs) return false
    if (probe.exists(r => r.isNullAt(0) || r.isNullAt(1))) return false
    IndexIO.crashTick()
    // multiset min per id over the affine family — insertion order kept
    // only for determinism of the later sort's input, the sort decides
    val mins = scala.collection.mutable.LinkedHashMap.empty[Long, Array[Long]]
    for (r <- probe) {
      val h = Dedup.tokenHashStr(r.getString(1))
      val arr = mins.getOrElseUpdate(r.getLong(0),
        Array.fill(numHashes)(Long.MaxValue))
      var i = 0
      while (i < numHashes) {
        val v = (h * Dedup.minhashA(i) + Dedup.minhashB(i)) % Dedup.MinhashPrime
        if (v < arr(i)) arr(i) = v
        i += 1
      }
    }
    val byId = mins.toArray.sortBy(_._1)
    val conf = spark.sparkContext.hadoopConfiguration
    def groupFile(dir: String, schemaStr: String)(
        write: (org.apache.parquet.schema.MessageType,
          org.apache.parquet.hadoop.ParquetWriter[
            org.apache.parquet.example.data.Group]) => Unit): Unit = {
      val schema =
        org.apache.parquet.schema.MessageTypeParser.parseMessageType(schemaStr)
      val dirPath = new org.apache.hadoop.fs.Path(dir)
      val fs = dirPath.getFileSystem(conf)
      if (fs.exists(dirPath)) fs.delete(dirPath, true)
      fs.mkdirs(dirPath)
      val w = org.apache.parquet.hadoop.example.ExampleParquetWriter
        .builder(org.apache.parquet.hadoop.util.HadoopOutputFile.fromPath(
          new org.apache.hadoop.fs.Path(dirPath, "part-00000.parquet"), conf))
        .withType(schema).withConf(conf).build()
      try write(schema, w) finally w.close()
    }
    val sigStaging = IndexIO.shardStagingFor(s"$path/signatures")
    groupFile(sigStaging,
      "message signatures { optional int64 id; " +
        (0 until numHashes).map(i => s"optional int64 m$i; ").mkString + "}") {
      (schema, w) =>
        for ((id, arr) <- byId) {
          val g = new org.apache.parquet.example.data.simple.SimpleGroup(schema)
          g.add("id", id)
          for (i <- 0 until numHashes) g.add(s"m$i", arr(i))
          w.write(g)
        }
    }
    // band keys exactly as [[bands]] builds them: band index prefixed to
    // the band's signature slice, "_"-joined (concat_ws renders the
    // int64s as decimal — so does Long.toString)
    val numBands = numHashes / rowsPerBand
    val bandRows = for {
      (id, arr) <- byId
      b <- 0 until numBands
    } yield (id, b,
      (b.toString +: (b * rowsPerBand until (b + 1) * rowsPerBand)
        .map(i => arr(i).toString)).mkString("_"))
    val bktStaging = IndexIO.shardStagingFor(s"$path/buckets")
    groupFile(bktStaging,
      """message buckets { optional int64 id;
        |  optional int32 band; optional binary bucket (UTF8); }"""
        .stripMargin) { (schema, w) =>
      // (band, bucket, id) sort — bucket strings are ASCII digits and
      // underscores, so String order equals the UTF8 binary order the
      // Spark route sorts by
      for ((id, b, bucket) <- bandRows.sortBy(r => (r._2, r._3, r._1))) {
        val g = new org.apache.parquet.example.data.simple.SimpleGroup(schema)
        g.add("id", id); g.add("band", b); g.add("bucket", bucket)
        w.write(g)
      }
    }
    // same publish tail as the Spark route: heartbeat (the lease bounds
    // the publish→commit tail), both shards in, caller lands the marker
    IndexIO.heartbeatClaim(spark, path, next)
    IndexIO.publishShard(spark, sigStaging, s"$path/signatures/shard=$next")
    IndexIO.publishShard(spark, bktStaging, s"$path/buckets/shard=$next")
    true
  }

  /** TOMBSTONE a set of documents (retired crawls, takedowns — at
    * 100 TB removal must not cost a rebuild): `ids` (an `id` column,
    * the token-relation naming) lands as ONE NEW shard under
    * `deletes/` via the [[append]] mechanics (staged hidden dir,
    * single publish rename, existing files untouched). [[pairs]]
    * anti-joins the tombstone set out of the bucket table BEFORE the
    * self-join, so a deleted doc contributes no candidate pairs —
    * identical results to an index built without those docs
    * (oracle-pinned). Tombstones are INDEX-WIDE, not sequenced
    * against shards: a deleted id stays invisible even if a later
    * [[append]] re-ingests it, until [[compact]] — which physically
    * drops tombstoned rows and clears the set — resets the index.
    * This is also the sanctioned route for RE-CRAWLED docs (the
    * duplicate-id hazard in [[append]]'s contract): delete the stale
    * id, compact, append the fresh crawl. */
  def delete(ids: DataFrame, path: String): Unit = {
    require(ids.columns.contains("id"),
      s"delete ids need an id column, got ${ids.columns.mkString(", ")}")
    IndexIO.publishIdShard(ids, path, "id")
  }

  /** The stored tombstone set, if any shard exists — None keeps the
    * no-deletes serving plan free of an empty-relation join. */
  private def tombstones(spark: SparkSession, path: String): Option[DataFrame] =
    if (IndexIO.shardIds(spark, s"$path/deletes").nonEmpty)
      Some(IndexIO.readTable(spark, path, "deletes").select("id"))
    else None

  /** Fold all shards of both tables back into one (`shard=0`) — the
    * compaction counterpart to [[append]]'s accumulate-shards contract.
    * Tombstoned rows ([[delete]]) are dropped for good from BOTH tables
    * and the tombstone set is cleared (the staging dir carries no
    * `deletes/`). Rewrites history, so it goes through the full staging +
    * aside-protected rename ([[IndexIO.publish]]); pair results are
    * unchanged, only layout (and the band self-join's file-read count)
    * improves. EXCLUSIVE of appends (the root rename) — the migration /
    * claim-reset op; a live crawl loop compacts via
    * [[maintain]]/[[compactAllInPlace]]. */
  def compact(spark: SparkSession, path: String, partitions: Int = 8): Unit = {
    // orphans (crash between append's two publishes) must not be baked
    // into the compacted shard=0 — drop them first; flat pre-shard
    // layouts have no shard dirs, so this is a no-op for migration
    reconcileShards(spark, path)
    IndexIO.gcStaging(spark, path) // reclaim crashed-build staging dirs
    val staging = IndexIO.stagingFor(path)
    val dels = tombstones(spark, path)
    // prune to LIVE committed shards when markers exist: a young
    // uncommitted orphan survives the lease-honoring reconcile above
    // and must not be baked into shard=0 (legacy pre-marker layouts
    // have no markers — read whole, as before)
    val live = IndexIO.liveCommittedIds(spark, path)
    def tbl(name: String) =
      if (live.nonEmpty) IndexIO.readCommitted(spark, path, name, live)
      else IndexIO.readTable(spark, path, name)
    val sig = tbl("signatures")
    IndexIO.sortedLayout(
        IndexIO.subtractTombstones(spark, path,
          sig.select(sig.columns.filterNot(_ == "shard").map(col).toSeq: _*),
          "id", "id"),
        partitions, Seq("id"))
      .write.mode(SaveMode.Overwrite).parquet(s"$staging/signatures/shard=0")
    IndexIO.sortedLayout(
        IndexIO.subtractTombstones(spark, path,
          tbl("buckets").select("id", "band", "bucket"), "id", "id"),
        partitions, Seq("band", "bucket", "id"), Seq("band", "bucket"))
      .write.mode(SaveMode.Overwrite).parquet(s"$staging/buckets/shard=0")
    // compact is also the pre-marker → marker-layout migration (the
    // flat-layout precedent): the republished index always carries its
    // commit marker, so appends work on it afterwards
    IndexIO.commitShard(spark, staging, 0)
    IndexIO.publish(spark, staging, path)
  }

  /** SIZE-TIERED incremental compaction (the [[TextIndex.compactSmall]]
    * protocol): fold ONLY shards that are small (both tables' bytes ≤
    * `maxShardBytes`) or tombstone-heavy (≥ `tombstoneFrac` of the
    * shard's signature rows deleted) into one new shard, committed with
    * a REPLACES marker — one atomic rename swaps the fold set out of
    * the live id set; every other shard's files stay byte-identical.
    * Tombstones inside folded shards drop physically; the tombstone SET
    * clears only on a full compaction ([[compact]] or
    * [[compactAllInPlace]]). Returns the folded shard ids
    * (empty = nothing worth folding). */
  def compactSmall(spark: SparkSession, path: String, maxShardBytes: Long,
                   partitions: Int = 8, tombstoneFrac: Double = 0.5): Seq[Int] =
    compactTiered(spark, path, Some(maxShardBytes), partitions, tombstoneFrac)

  /** Full compaction WITHOUT the root-replacing rename (the
    * [[TextIndex.compactAllInPlace]] twin): folds ALL live shards into
    * one new shard under the existing root via a REPLACES marker and
    * clears the tombstone shards observed at entry. [[maintain]]'s
    * full-compact route — safe under concurrent appends, unlike
    * [[compact]]'s whole-root rename. Returns the folded shard ids. */
  def compactAllInPlace(spark: SparkSession, path: String,
                        partitions: Int = 8): Seq[Int] =
    compactTiered(spark, path, None, partitions, 0.5)

  private def compactTiered(spark: SparkSession, path: String,
                            maxShardBytes: Option[Long], partitions: Int,
                            tombstoneFrac: Double): Seq[Int] = {
    // maintainer mutual exclusion — see [[TextIndex]] compactTiered
    val lockNonce = IndexIO.acquireMaintLock(spark, path)
    try compactTieredLocked(spark, path, maxShardBytes, partitions,
      tombstoneFrac, lockNonce)
    finally IndexIO.releaseMaintLock(spark, path, lockNonce)
  }

  private def compactTieredLocked(spark: SparkSession, path: String,
                                  maxShardBytes: Option[Long], partitions: Int,
                                  tombstoneFrac: Double,
                                  lockNonce: String): Seq[Int] = {
    reconcileShards(spark, path)
    IndexIO.gcStaging(spark, path)
    IndexIO.gcClaims(spark, path) // bound historical claim dirs (single-maintainer)
    val tables = Seq("signatures", "buckets")
    // observed BEFORE the live-shard listing — only these may clear on
    // fold-all (a concurrently-landing tombstone shard stays applied;
    // the ordering makes a tombstone targeting a later-committed shard
    // provably a delete-before-append, so clearing cannot resurrect —
    // see the [[TextIndex]] compactTiered note)
    val obsDels = IndexIO.shardIds(spark, s"$path/deletes")
    val live = IndexIO.liveCommittedIds(spark, path)
    require(live.nonEmpty,
      s"index at $path has no committed shards; compactSmall needs the marker layout")
    val dels = tombstones(spark, path)
    val fold = maxShardBytes match {
      case None => live
      case Some(bytes) =>
        val small = live.filter(k =>
          tables.map(t => IndexIO.dirBytes(spark, s"$path/$t/shard=$k")).sum <= bytes)
        val heavy: Seq[Int] = dels match {
          case Some(d) =>
            IndexIO.readCommitted(spark, path, "signatures", live)
              .select(col("shard"), col("id"))
              .join(d.withColumn("t", lit(1)), Seq("id"), "left")
              .groupBy("shard").agg(count(lit(1)).as("total"),
                sum(coalesce(col("t"), lit(0))).as("dead"))
              .filter(col("dead").cast("double") >=
                lit(tombstoneFrac) * col("total").cast("double"))
              .select("shard").collect().map(_.getInt(0)).toSeq
          case None => Nil
        }
        val f = (small ++ heavy).distinct.sorted
        if (f.length < 2 && heavy.isEmpty) return Nil
        f
    }
    val next = IndexIO.claimShardId(spark, path, tables)
    IndexIO.heartbeatMaintLock(spark, path, lockNonce)
    def liveRows(table: String, cols: Seq[String]) =
      IndexIO.subtractTombstones(spark, path,
        IndexIO.readCommitted(spark, path, table, fold)
          .select(cols.map(col): _*), "id", "id")
    val sigCols = IndexIO.readTable(spark, path, "signatures")
      .columns.filterNot(_ == "shard").toSeq
    val sigStaging = IndexIO.shardStagingFor(s"$path/signatures")
    IndexIO.sortedLayout(liveRows("signatures", sigCols), partitions, Seq("id"))
      .write.mode(SaveMode.Overwrite).parquet(sigStaging)
    IndexIO.publishShard(spark, sigStaging, s"$path/signatures/shard=$next")
    val bktStaging = IndexIO.shardStagingFor(s"$path/buckets")
    IndexIO.sortedLayout(liveRows("buckets", Seq("id", "band", "bucket")),
        partitions, Seq("band", "bucket", "id"), Seq("band", "bucket"))
      .write.mode(SaveMode.Overwrite).parquet(bktStaging)
    IndexIO.publishShard(spark, bktStaging, s"$path/buckets/shard=$next")
    // the commit point: one rename swaps the fold set for the new shard
    IndexIO.commitShard(spark, path, next, replaces = fold,
      maintLockNonce = lockNonce)
    for (k <- fold) IndexIO.deleteDir(spark, s"$path/commits/shard=$k")
    for (t <- tables; k <- fold) IndexIO.deleteDir(spark, s"$path/$t/shard=$k")
    if (maxShardBytes.isEmpty)
      for (k <- obsDels) IndexIO.deleteDir(spark, s"$path/deletes/shard=$k")
    fold
  }

  /** Compaction trigger policy ([[IndexMaintenance]]): call after each
    * crawl/ingest generation; keeps live shards ≤ `maxShards` and the
    * dead-row fraction < `tombstoneFrac` by choosing (nothing |
    * size-tiered [[compactSmall]] | fold-all [[compactAllInPlace]])
    * from shard stats. Safe under concurrent appends — see
    * [[IndexMaintenance]]. */
  def maintain(spark: SparkSession, path: String, maxShards: Int = 8,
               tombstoneFrac: Double = 0.3, partitions: Int = 8): MaintainReport =
    IndexMaintenance.run(spark, path, Seq("signatures", "buckets"), "signatures", "id",
      maxShards, tombstoneFrac,
      () => compactAllInPlace(spark, path, partitions),
      bytes => compactSmall(spark, path, bytes, partitions, tombstoneFrac))

  /** All candidate pairs from the stored index: docs sharing any band
    * bucket, scored by agreeing-minhash fraction — identical semantics
    * (and identical output) to [[Dedup.minhashLshPairs]] over the same
    * tokens. The bucket self-join is an equality join on the stored
    * (band, bucket) layout; nothing re-tokenizes, nothing checkpoints. */
  def pairs(spark: SparkSession, path: String, numHashes: Int): DataFrame = {
    // committed-shard pruning: an appended shard is invisible until its
    // commit marker lands (compaction REPLACES markers subtract their
    // folded shards); legacy pre-marker indexes read whole — but ONLY
    // the single-shard layout a legacy index can actually have; a
    // multi-shard table with no markers means the commits table was
    // lost, and serving it whole would include crash orphans
    val committed = IndexIO.liveCommittedIds(spark, path)
    IndexIO.requireCommittedOrLegacy(spark, path, "signatures", committed)
    IndexIO.requireCommittedOrLegacy(spark, path, "buckets", committed)
    def pruned(table: String): DataFrame =
      IndexIO.readCommitted(spark, path, table, committed)
    val sig = pruned("signatures")
    // tombstones cut BEFORE the self-join: a deleted doc contributes no
    // candidates from either side, so one anti-join covers both
    val bk = tombstones(spark, path)
      .foldLeft(pruned("buckets"))(
        _.join(_, Seq("id"), "left_anti"))
    val cand = bk.as("l").join(bk.as("r"),
        col("l.band") === col("r.band") && col("l.bucket") === col("r.bucket") &&
          col("l.id") < col("r.id"))
      .select(col("l.id").as("a"), col("r.id").as("b"))
      .distinct()
    val agree = (0 until numHashes)
      .map(i => when(col(s"sa.m$i") === col(s"sb.m$i"), 1).otherwise(0))
      .reduce(_ + _)
    cand
      .join(sig.as("sa"), col("a") === col("sa.id"))
      .join(sig.as("sb"), col("b") === col("sb.id"))
      .select(col("a"), col("b"),
        round(agree.cast("double") / numHashes, 6).as("est_sim"))
  }
}

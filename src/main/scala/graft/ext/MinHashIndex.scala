package graft.ext

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted MinHash/LSH text-dedup index — the text counterpart of
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
  * [[ShardedIndex]] shard-commit protocol: table shards publish first, a
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
    try writeShard({
        case "signatures" => sigCached
        case "buckets" => bands(sigCached, numHashes, rowsPerBand)
      }, staging, 0, partitions)
    finally sigCached.unpersist(false)
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

  /** The one shard write of build, append and both folds: signatures
    * id-sorted, buckets (band, bucket, id)-sorted and range-laid on
    * (band, bucket); `partitions == 1` is the SMALL-BATCH route
    * (coalesce, no bounds-sampling job). */
  private def writeShard(rows: String => DataFrame, stage: String, k: Int,
                         partitions: Int): Unit = {
    IndexIO.sortedLayout(rows("signatures"), partitions, Seq("id"))
      .write.mode(SaveMode.Overwrite).parquet(s"$stage/signatures/shard=$k")
    IndexIO.sortedLayout(rows("buckets").select("id", "band", "bucket"),
        partitions, Seq("band", "bucket", "id"), Seq("band", "bucket"))
      .write.mode(SaveMode.Overwrite).parquet(s"$stage/buckets/shard=$k")
  }

  /** This index's shape for the shared protocol ([[ShardedIndex]]): two
    * sharded tables keyed by `id`, documents counted on signatures. */
  private val family = ShardedIndex.Family("MinHashIndex",
    Seq("signatures", "buckets"), "signatures", "id", writeShard)

  /** Append new documents' signatures to a stored index WITHOUT a full
    * rebuild — the incremental-crawl refresh path. New (id, tok) rows
    * are signed with the same hash family and written as ONE NEW
    * committed shard of each table ([[ShardedIndex.append]]): existing
    * shard files are never read, rewritten, or moved — at 100 TB an
    * append costs only the new crawl batch, not the corpus. Band keys
    * are a pure per-row function of the signature, so
    * bands(A ∪ B) = bands(A) ∪ bands(B) and the union-of-shards view is
    * identical to a rebuild's. Every reader prunes both tables to
    * committed shard ids, so a crash anywhere before the marker is
    * invisible and a retry re-signs its batch into a fresh shard. An
    * index in the pre-shard flat or pre-marker layout is refused until
    * one [[compact]] migrates it.
    *
    * Equivalence: pairs after append(write(A), B) ≡ pairs after
    * write(A ∪ B) for disjoint id sets — spec-pinned, along with
    * pre-existing shard files staying byte-identical. Appending ids
    * already present would produce DUPLICATE signature rows, not merged
    * ones (MinHash of a doc's token set is not incrementally mergeable
    * from two partial token sets unless the split is exact) — callers
    * route re-crawled docs through [[Dedup.snapshotDiff]] and rebuild
    * or retire those ids first. Many tiny appends accumulate shards —
    * [[maintain]] folds them back. */
  def append(tokens: DataFrame, path: String, numHashes: Int,
             rowsPerBand: Int, partitions: Int = 8): Unit = {
    require(numHashes % rowsPerBand == 0,
      s"numHashes=$numHashes must be a multiple of rowsPerBand=$rowsPerBand")
    val spark = tokens.sparkSession
    // a numHashes that disagrees with the stored signature width would
    // silently band the new shard with different keys; fail loudly
    // against the stored schema instead (id + m0..m{n-1} + shard)
    val stored = storedWidth(IndexIO.readTable(spark, path, "signatures"))
    require(stored == numHashes,
      s"stored index at $path has $stored minhashes, " +
        s"append called with numHashes=$numHashes")
    ShardedIndex.append(spark, path, family) { (stage, k) =>
      if (partitions != 1 || !appendDriver(tokens, stage, k, numHashes, rowsPerBand)) {
        // persist, as in [[buildStaged]]: the signature write
        // materializes the cache; the band branches read it instead of
        // re-running the tokenize→min aggregate
        val newSig = Dedup.minhashSignature(tokens, numHashes)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        try writeShard({
            case "signatures" => newSig
            case "buckets" => bands(newSig, numHashes, rowsPerBand)
          }, stage, k, partitions)
        finally newSig.unpersist(false)
      }
    }
  }

  /** Driver-route bound: ≤ this many (id, tok) pair rows collect in one
    * bounded job (two narrow columns — a few MB) and sign in
    * microseconds on the driver. */
  private val MaxDriverPairs = 1 << 18

  /** SMALL-BATCH driver route for [[append]] (the
    * [[TextIndex]] driver-writer treatment applied to MinHash): a
    * streaming crawl generation is a few thousand docs, and the Spark
    * route pays a persist + two write jobs of scheduling floor to
    * persist a few hundred KB of signatures. Collect the (id, tok)
    * batch under a bound checked BY the limit itself (`limit(max+1)` —
    * over it, nothing more materializes and the caller falls back to
    * the distributed write), compute signatures with the SCALAR minhash
    * ([[Dedup.tokenHashStr]] ≡ [[Dedup.tokenHash]], spec-pinned; same
    * affine family, same int64 arithmetic — multiset min equals the
    * groupBy min bit-for-bit), and write both table shards under
    * `stage` with the parquet Group API in the same id-sorted /
    * (band,bucket,id)-sorted layouts the Spark route lays down — readers
    * and the shard protocol can't tell. Returns whether it handled the
    * write (rows with NULL id/tok route back to the Spark path, which
    * defines their semantics). */
  private def appendDriver(tokens: DataFrame, stage: String, k: Int,
                           numHashes: Int, rowsPerBand: Int): Boolean = {
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
    DriverParquet.writeGroups(spark, s"$stage/signatures/shard=$k",
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
    DriverParquet.writeGroups(spark, s"$stage/buckets/shard=$k",
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
    true
  }

  /** TOMBSTONE a set of documents (retired crawls, takedowns — at
    * 100 TB removal must not cost a rebuild): `ids` (an `id` column,
    * the token-relation naming) lands as ONE NEW shard under
    * `deletes/` ([[ShardedIndex.delete]]), existing files untouched.
    * [[pairs]] anti-joins the tombstone set out of the bucket table
    * BEFORE the self-join, so a deleted doc contributes no candidate
    * pairs — identical results to an index built without those docs
    * (oracle-pinned). Tombstones are INDEX-WIDE, not sequenced against
    * shards: a deleted id stays invisible even if a later [[append]]
    * re-ingests it, until [[compact]] — which physically drops
    * tombstoned rows and clears the set — resets the index. This is
    * also the sanctioned route for RE-CRAWLED docs (the duplicate-id
    * hazard in [[append]]'s contract): delete the stale id, compact,
    * append the fresh crawl. */
  def delete(ids: DataFrame, path: String): Unit =
    ShardedIndex.delete(ids, path, "id", "id")

  /** Fold all shards of both tables back into one (`shard=0`) and
    * republish the WHOLE index ([[ShardedIndex.compact]]): tombstoned
    * rows drop for good from BOTH tables and the tombstone set clears.
    * Pair results are unchanged, only layout (and the band self-join's
    * file-read count) improves. Also the migration of a pre-shard flat
    * or pre-marker layout. EXCLUSIVE of appends (the root rename) — a
    * live crawl loop compacts via [[maintain]]/[[compactAllInPlace]]. */
  def compact(spark: SparkSession, path: String, partitions: Int = 8): Unit =
    ShardedIndex.compact(spark, path, family, partitions)

  /** SIZE-TIERED incremental compaction ([[ShardedIndex.compactTiered]]):
    * fold ONLY shards that are small (both tables' bytes ≤
    * `maxShardBytes`) or tombstone-heavy (≥ `tombstoneFrac` of the
    * shard's signature rows deleted) into one new shard, committed with
    * a REPLACES marker; every other shard's files stay byte-identical.
    * Tombstones inside folded shards drop physically; the tombstone SET
    * clears only on a full compaction ([[compact]] or
    * [[compactAllInPlace]]). Returns the folded shard ids
    * (empty = nothing worth folding). */
  def compactSmall(spark: SparkSession, path: String, maxShardBytes: Long,
                   partitions: Int = 8, tombstoneFrac: Double = 0.5): Seq[Int] =
    ShardedIndex.compactTiered(spark, path, family, Some(maxShardBytes),
      partitions, tombstoneFrac)

  /** Full compaction WITHOUT the root-replacing rename: folds ALL live
    * shards into one new shard under the existing root via a REPLACES
    * marker and clears the tombstone shards observed at entry.
    * [[maintain]]'s full-compact route — safe under concurrent appends,
    * unlike [[compact]]'s whole-root rename. Returns the folded shard
    * ids. */
  def compactAllInPlace(spark: SparkSession, path: String,
                        partitions: Int = 8): Seq[Int] =
    ShardedIndex.compactTiered(spark, path, family, None, partitions, 0.5)

  /** Compaction trigger policy ([[ShardedIndex.maintain]]): call after
    * each crawl/ingest generation; keeps live shards ≤ `maxShards` and
    * the dead-row fraction < `tombstoneFrac` by choosing (nothing |
    * size-tiered [[compactSmall]] | fold-all [[compactAllInPlace]])
    * from shard stats. Safe under concurrent appends. */
  def maintain(spark: SparkSession, path: String, maxShards: Int = 8,
               tombstoneFrac: Double = 0.3, partitions: Int = 8): MaintainReport =
    ShardedIndex.maintain(spark, path, family, maxShards, tombstoneFrac, partitions)

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
    val bk = ShardedIndex.tombstones(spark, path, "id")
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

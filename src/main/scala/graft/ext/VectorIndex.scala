package graft.ext

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted IVF vector index — the vector counterpart of
  * [[graft.etl.TrigramIndex]]: build the coarse-quantizer structure
  * ONCE, write it as tables, and serve every later query batch from
  * the stored layout instead of re-deriving centroids and assignments
  * per query ([[Similarity.ivfTopK]] is the build-inline form).
  *
  * Layout is the 100 TB point: posting lists are range-laid-out and
  * sorted by centroid id, so a query batch that probes `nprobe` lists
  * reads ONLY the row groups covering those ids (min/max pruning —
  * the same lever as the trigram index's gram-sorted postings and the
  * gazetteer's (lat, lon) range layout). The quantized codes are
  * stored IN the posting rows: the serving path never rejoins the raw
  * embeddings.
  */
object VectorIndex {

  /** Build and persist the index: `centroids` (cid, cent_emb) and
    * `postings` (cid, cand_id, c_emb, metaCols*) sorted by cid.
    * `iterations` > 0 Lloyd-refines the deterministic seed centroids
    * ([[Similarity.trainIvfCentroids]]).
    *
    * `metaCols` names corpus columns to CO-LOCATE in the posting rows
    * (label, language, license …) — the filtered-search design every
    * vector store uses: a metadata predicate at serve time
    * ([[topK]]'s `candFilter`) then pushes to the SAME parquet scan as
    * the cid probe instead of forcing a corpus-wide join against the
    * raw table. Cost is posting-row width, paid once at build.
    *
    * Both tables are written under a staging directory and published by
    * ONE rename ([[IndexIO]]): a failure mid-build leaves the previous
    * index intact, and a concurrent reader can never pair new centroids
    * with stale postings (it would probe the wrong lists and silently
    * return wrong neighbors — the rename makes the race fail loudly or
    * not at all). */
  def write(corpus: DataFrame, path: String, nCentroids: Int,
            iterations: Int = 0, partitions: Int = 8,
            metaCols: Seq[String] = Nil): Unit = {
    val staging = IndexIO.stagingFor(path)
    buildStaged(corpus, staging, nCentroids, iterations, partitions, metaCols)
    IndexIO.publish(corpus.sparkSession, staging, path)
  }

  /** Build and publish a NEW VERSION under a versioned root — the
    * object-store-safe counterpart of [[write]] (the
    * [[MinHashIndex.writeVersioned]] treatment): every rebuild lands in
    * an immutable `v{N}` directory and a one-line CURRENT pointer flips
    * to it, so a reader ([[topKCurrent]]) can never observe a
    * partially-copied index even where directory renames are
    * copy+delete. Returns the published version path ([[append]]
    * targets it directly — appends stay within one version). */
  def writeVersioned(corpus: DataFrame, root: String, nCentroids: Int,
                     iterations: Int = 0, partitions: Int = 8,
                     metaCols: Seq[String] = Nil): String = {
    val staging = IndexIO.stagingFor(root)
    buildStaged(corpus, staging, nCentroids, iterations, partitions, metaCols)
    IndexIO.publishVersioned(corpus.sparkSession, staging, root)
  }

  /** [[topK]] over whichever version CURRENT names — one small-file
    * pointer read per query batch, then the resolved immutable version
    * serves the whole batch (a publish landing mid-batch is invisible). */
  def topKCurrent(spark: SparkSession, root: String, queries: DataFrame,
                  k: Int, nprobe: Int, maxLiteralCids: Int = 10000,
                  candFilter: Option[org.apache.spark.sql.Column] = None): DataFrame =
    topK(spark, IndexIO.resolveCurrent(spark, root), queries, k, nprobe,
      maxLiteralCids, candFilter)

  private def buildStaged(corpus: DataFrame, staging: String, nCentroids: Int,
                          iterations: Int, partitions: Int,
                          metaCols: Seq[String]): Unit = {
    require(!metaCols.exists(Seq("cid", "cand_id", "c_emb").contains),
      s"metaCols collide with index columns: $metaCols")
    val cent =
      if (iterations > 0)
        Similarity.trainIvfCentroids(corpus, nCentroids, iterations)
      else corpus.orderBy("vec_id").limit(nCentroids)
        .select(col("vec_id").as("cid"),
          Similarity.quantize(col("embedding")).as("cent_emb"))
    cent.write.mode(SaveMode.Overwrite).parquet(s"$staging/centroids")
    // assign against the JUST-WRITTEN centroids: re-using the unmaterialized
    // `cent` plan would re-run its full-corpus TakeOrdered a second time,
    // and reading back also guarantees postings match the persisted table
    val centStored = corpus.sparkSession.read.parquet(s"$staging/centroids")
    writeShard(_ => assign(corpus, centStored, metaCols), staging, 0, partitions)
    // the shard-commit marker ships with the build (whole staging dir
    // publishes in one rename), so every index born here is marker-aware
    IndexIO.commitShard(corpus.sparkSession, staging, 0)
  }

  /** (cid, cand_id, c_emb, meta*) posting rows: each vector quantized
    * and assigned to its nearest stored centroid. */
  private def assign(vectors: DataFrame, centroids: DataFrame,
                     meta: Seq[String]): DataFrame = {
    val q = vectors.select(
      (col("vec_id").as("cand_id") +:
        Similarity.quantize(col("embedding")).as("c_emb") +:
        meta.map(col)): _*)
    Similarity.nearestCentroid(q, centroids, "cand_id", "c_emb", meta)
      .select((Seq("cid", "cand_id", "c_emb") ++ meta).map(col): _*)
  }

  /** Metadata columns a stored posting table carries (everything past
    * the fixed index triple and the shard partition column) — schema-
    * derived so append/compact preserve them without a caller knowing
    * the build-time `metaCols`. */
  private def storedMetaCols(postings: DataFrame): Seq[String] =
    postings.schema.fieldNames.toSeq
      .filterNot(Seq("cid", "cand_id", "c_emb", "shard").contains)

  /** The one posting-shard write of build, append and both folds: a
    * cid-range layout sorted by (cid, cand_id); `partitions == 1` is the
    * SMALL-BATCH route (coalesce, no bounds-sampling job). */
  private def writeShard(rows: String => DataFrame, stage: String, k: Int,
                         partitions: Int): Unit = {
    val postings = rows("postings")
    IndexIO.sortedLayout(
        postings.select((Seq("cid", "cand_id", "c_emb") ++ storedMetaCols(postings))
          .map(col): _*),
        partitions, Seq("cid", "cand_id"))
      .write.mode(SaveMode.Overwrite).parquet(s"$stage/postings/shard=$k")
  }

  /** This index's shape for the shared protocol ([[ShardedIndex]]): one
    * sharded posting table keyed by `cand_id`; a full compact carries
    * the centroid table over unchanged. */
  private val family = ShardedIndex.Family("VectorIndex", Seq("postings"),
    "postings", "cand_id", writeShard, copied = Seq("centroids"))

  /** Append new vectors to a stored index WITHOUT a full rebuild: the
    * streaming-ingest path. New vectors are assigned against the STORED
    * centroids (no retrain — the coarse quantizer stays fixed, the
    * standard IVF ingest contract) and written as ONE NEW committed
    * posting shard ([[ShardedIndex.append]]): existing shard files are
    * never read, rewritten, or moved — at 100 TB an append costs only
    * the new batch, not the index. Readers ([[topK]]) prune to
    * committed shard ids, so a crash anywhere mid-append leaves only
    * invisible garbage, never a partial or uncommitted shard in
    * results. An index in the pre-shard flat or pre-marker layout is
    * refused until one [[compact]] migrates it.
    *
    * Equivalence: for the same final corpus and the same centroids,
    * topK over append(write(A), B) ≡ topK over write(A ∪ B)
    * (assignment is a pure per-row function of the centroid table and
    * the serving re-rank is order-free) — `VectorIndexSpec` pins result
    * parity AND that pre-existing shard files stay byte-identical.
    * Each shard is itself cid-range-laid-out, so a probe prunes row
    * groups within every shard; many tiny appends accumulate shards
    * (and per-probe file reads) — [[maintain]] folds them back. */
  def append(newVectors: DataFrame, path: String, partitions: Int = 8,
             evolveMeta: Seq[String] = Nil): Unit = {
    val spark = newVectors.sparkSession
    val centStored = IndexIO.readTable(spark, path, "centroids")
    // a batch whose embedding dimension differs from the stored index
    // would cosine to NULL against every centroid, tiebreak the WHOLE
    // batch into the lowest cid's list, and serve null cosines — the
    // MinHashIndex storedWidth treatment: fail loudly instead
    val storedDim = centStored.select(size(col("cent_emb")).as("d")).head.getInt(0)
    newVectors.select(size(col("embedding")).as("d")).take(1).foreach { r =>
      require(r.getInt(0) == storedDim,
        s"stored index at $path has dimension $storedDim, " +
          s"append batch has dimension ${r.getInt(0)}")
    }
    // the stored schema dictates which metadata columns the batch must
    // carry — a shard missing them would serve NULLs into candFilter
    // predicates and silently drop (or keep) the wrong candidates.
    // SCHEMA EVOLUTION is additive and explicit: `evolveMeta` names NEW
    // metadata columns this batch introduces (a training pipeline adds
    // metadata constantly); older shards keep serving untouched, and a
    // candFilter over an evolved column sees NULL for their rows — the
    // pinned semantics (SchemaEvolutionSpec): a predicate on a column a
    // shard predates drops that shard's rows, exactly as SQL
    // three-valued logic reads absent data.
    val stored = storedMetaCols(IndexIO.readTable(spark, path, "postings"))
    require(evolveMeta.forall(c => !stored.contains(c) &&
        !Seq("cid", "cand_id", "c_emb", "shard").contains(c)),
      s"evolveMeta $evolveMeta collides with stored columns")
    val meta = stored ++ evolveMeta
    meta.foreach(c => require(newVectors.columns.contains(c),
      s"stored index at $path carries metadata column '$c'; append batch lacks it"))
    ShardedIndex.append(spark, path, family)((stage, k) =>
      writeShard(_ => assign(newVectors, centStored, meta), stage, k, partitions))
    // an evolved append widened the table schema: this JVM's schema
    // memo must re-read (it now resolves the NEWEST shard's footer —
    // the widest, since evolution is additive). Other long-lived JVMs
    // see the new column at their next cache lifecycle; until then they
    // serve the narrower projection, which is sound (additive columns
    // only ever gate NEW predicates).
    if (evolveMeta.nonEmpty) IndexIO.invalidateSchemasUnder(path)
  }

  /** TOMBSTONE a set of vectors ("right to be forgotten" at 100 TB:
    * removing rows from a sorted multi-TB posting layout must not cost
    * a rebuild). `ids` (a `vec_id` column, the [[write]] input naming)
    * is written as ONE NEW shard under `deletes/`
    * ([[ShardedIndex.delete]]), existing files untouched. Serving
    * ([[topK]]) anti-joins the tombstone set AFTER the cid probe (only
    * the probed lists pay the join) and BEFORE the re-rank, so
    * survivors back-fill the top-k — identical semantics to a
    * `candFilter` excluding the ids, and the same position the oracle
    * replays.
    *
    * Tombstones are INDEX-WIDE, not sequenced against shards: a
    * deleted id stays invisible even if a later [[append]] re-ingests
    * it, until [[compact]] — which physically drops tombstoned rows
    * and clears the tombstone set — resets the index (spec-pinned).
    * Callers re-ingesting a retired id compact first. Large tombstone
    * sets degrade every serve (an extra join side that never shrinks);
    * compaction is the remedy, same as shard accumulation. */
  def delete(ids: DataFrame, path: String): Unit =
    ShardedIndex.delete(ids, path, "vec_id", "cand_id")

  /** Fold all posting shards back into one (`shard=0`) and republish
    * the WHOLE index ([[ShardedIndex.compact]]): tombstoned rows drop
    * for good, the tombstone set clears, centroids are copied
    * unchanged. Serving results are unchanged; only the file layout
    * (and per-probe file-read count) improves. Also the migration of a
    * pre-shard flat or pre-marker layout. EXCLUSIVE of appends (the
    * root rename) — a live crawl loop compacts via
    * [[maintain]]/[[compactAllInPlace]]. */
  def compact(spark: SparkSession, path: String, partitions: Int = 8): Unit =
    ShardedIndex.compact(spark, path, family, partitions)

  /** SIZE-TIERED incremental compaction ([[ShardedIndex.compactTiered]]):
    * fold ONLY posting shards that are small (bytes ≤ `maxShardBytes`)
    * or tombstone-heavy (≥ `tombstoneFrac` of the shard's rows deleted)
    * into one new cid-sorted shard, committed with a REPLACES marker;
    * every other shard (and the centroid table) stays byte-identical.
    * Tombstones inside folded shards drop physically; the tombstone SET
    * clears only on a full compaction. Returns the folded shard ids
    * (empty = nothing worth folding). */
  def compactSmall(spark: SparkSession, path: String, maxShardBytes: Long,
                   partitions: Int = 8, tombstoneFrac: Double = 0.5): Seq[Int] =
    ShardedIndex.compactTiered(spark, path, family, Some(maxShardBytes),
      partitions, tombstoneFrac)

  /** Full compaction WITHOUT the root-replacing rename: folds ALL live
    * posting shards into one new shard under the existing root via a
    * REPLACES marker and clears the tombstone shards observed at entry
    * (centroids untouched). [[maintain]]'s full-compact route — safe
    * under concurrent appends, unlike [[compact]]'s whole-root rename.
    * Returns the folded shard ids. */
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

  /** Serve a (small) query batch from the stored index: assign each
    * query to its `nprobe` nearest centroids, then read ONLY those
    * posting lists — the probed cids are collected to a LITERAL `IN`
    * predicate (a handful of ids for a serving batch), so the filter
    * pushes to the parquet scan and the cid-sorted layout prunes row
    * groups; a join would read every list. Exact re-rank inside the
    * probed lists, ties to the lowest candidate id — identical
    * semantics to [[Similarity.ivfTopK]] with the same centroids.
    *
    * The literal route is bounded: distinct probed cids ≤ `maxLiteralCids`
    * (default 10k — comfortably a serving batch, far below plan-size
    * trouble) go in as the pushed `IN`; above it the filter switches to
    * a broadcast semi-join on the probed cids, which reads more row
    * groups but keeps plan size and driver memory flat however large
    * the query batch × nprobe product grows. */
  /** `candFilter`: an optional predicate over the posting rows'
    * metadata columns (stored via `write(..., metaCols)`) — FILTERED
    * vector search ("top-k nearest with license = permissive"). The
    * predicate lands on the posting scan ITSELF, next to the cid
    * probe, so parquet row-group pruning applies to both and no join
    * against the raw corpus happens at serve time. Filtering runs
    * BEFORE the re-rank (the standard IVF post-filter semantics:
    * k survivors of the probed lists, not k-then-filter, which could
    * return fewer than k for no reason) — but NOT before probing:
    * a very selective filter with tiny nprobe still bounds recall by
    * the probed lists, the documented IVF trade. */
  def topK(spark: SparkSession, path: String, queries: DataFrame,
           k: Int, nprobe: Int, maxLiteralCids: Int = 10000,
           candFilter: Option[org.apache.spark.sql.Column] = None): DataFrame = {
    val cent = broadcast(IndexIO.readTable(spark, path, "centroids"))
    val probes = queries
      .select(col("vec_id").as("query_id"),
        Similarity.quantize(col("embedding")).as("q_emb"))
      .crossJoin(cent)
      .select(col("query_id"), col("q_emb"), col("cid"),
        Similarity.cosineQ(col("q_emb"), col("cent_emb")).as("csim"))
      .withColumn("crank", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("query_id")
          .orderBy(col("csim").desc, col("cid").asc)))
      .filter(col("crank") <= nprobe)
      .select("query_id", "q_emb", "cid")
      // read twice (cid collect + the probe join): persist instead of
      // localCheckpoint — it materializes INSIDE the collect job (no
      // separate eager job per serve) and keeps lineage, so an executor
      // loss recomputes the probe ranking instead of failing the query.
      // Lifecycle: the cached blocks are reclaimed by the ContextCleaner
      // once the returned plan is GC'd (same as the checkpoint RDDs this
      // replaced) — a long-lived server reuses sessions, it does not
      // accumulate serves faster than GC
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // bounded collect: limit(max+1) caps the driver transfer at the
    // threshold even when the probe set is huge (saturating add — a
    // caller pinning the literal route with Int.MaxValue must not
    // overflow into a negative limit)
    val cids = probes.select("cid").distinct()
      .limit(math.min(maxLiteralCids.toLong + 1, Int.MaxValue.toLong).toInt)
      .collect().map(_.getLong(0)).toSeq
    // committed-shard pruning: an appended shard is invisible until its
    // commit marker lands (compaction REPLACES markers subtract their
    // folded shards); legacy pre-marker indexes read whole — but only
    // the single-shard layout a legacy index can actually have
    // ([[IndexIO.requireCommittedOrLegacy]]: a multi-shard table with
    // no markers means the commits table was lost, and serving it whole
    // would silently include crash orphans)
    val committed = IndexIO.liveCommittedIds(spark, path)
    IndexIO.requireCommittedOrLegacy(spark, path, "postings", committed)
    val postings = candFilter.foldLeft(
      IndexIO.readCommitted(spark, path, "postings", committed))(_ filter _)
    val probed =
      if (cids.length <= maxLiteralCids)
        postings.filter(col("cid").isInCollection(cids))
      else postings.join(
        broadcast(probes.select("cid").distinct()), Seq("cid"), "left_semi")
    // tombstones last: only the probed (already cid- and candFilter-
    // pruned) rows pay the anti-join, and survivors back-fill the top-k
    val alive = IndexIO.subtractTombstones(spark, path, probed,
      "cand_id", "cand_id")
    Similarity.exactReRank(alive.join(probes, Seq("cid")), k)
  }
}

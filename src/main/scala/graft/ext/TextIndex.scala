package graft.ext

import graft.core.Norm
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted inverted text index serving BM25 retrieval — the keyword
  * counterpart of [[VectorIndex]] (vectors) and [[MinHashIndex]] (dedup): the
  * corpus is tokenized ONCE at build, and every query after that is a
  * probe of stored postings, never a re-scan of document text.
  * (Reference counterpart: scout serves its text predicates by
  * re-scanning the corpus per query — SURVEY §1.3; the index replaces
  * that with the standard retrieval-system layout.)
  *
  * Layout (all tables `shard=K`-partitioned, see the commit protocol
  * below):
  *  - `postings` (term, doc_id, dl, tf) range-laid and sorted by term —
  *    a probe of q query terms reads q term-clustered row-group slices
  *    (the [[graft.etl.TrigramIndex]] sorted-postings lever), never the
  *    corpus. At 100 TB the postings relation is ~1% of the text it
  *    indexes and only the probed slivers of it are read.
  *  - `doclens` (doc_id, dl) sorted by doc_id — the doc spine, kept so
  *    tombstoned docs' length mass can be subtracted exactly at serve
  *    time ([[delete]]).
  *  - `stats` one row per shard (n_docs, sum_dl) — corpus-level BM25
  *    constants pre-aggregated so serving never scans doclens; shard
  *    rows sum exactly (INT64) to the rebuild's values.
  *
  * Shard-commit protocol ([[ShardedIndex]], shared with [[VectorIndex]]
  * and [[MinHashIndex]]; with THREE tables no publish order is benign —
  * a postings shard without its stats shard mis-scores every query
  * against stale corpus constants): appends are transactional — all
  * table shards publish first (each an atomic staged rename), then a
  * `commits/shard=K` marker publishes LAST, and every reader prunes
  * each table to committed shard ids (a partition-column `IN` —
  * directory pruning, no data read). A crash anywhere before the marker
  * leaves invisible garbage that the next [[compact]]/[[compactSmall]]
  * reconciles away; a reader can never observe a partially-appended
  * index. This is the manifest-pointer design object-store table
  * formats use, scoped to one marker file per shard.
  */
object TextIndex {

  /** (doc_id, dl, toks) doc spine — one tokenize pass per doc, shared
    * by the postings explode and the stats aggregate. */
  def docSpine(docs: DataFrame): DataFrame =
    docs.withColumn("toks", TextAnalysis.tokensCol(col("text")))
      .select(col("doc_id"), size(col("toks")).as("dl"), col("toks"))

  /** BM25 scoring + ranking tail shared by the persisted serving path
    * ([[bm25TopK]]) and the inline corpus-scan form
    * (`ta_bm25`, [[graft.queries.TextQueries2]]) — ONE body for the
    * log-free rational idf, the integer-micros order-free per-doc sum,
    * and the (score desc, doc_id asc) tie contract their shared DuckDB
    * oracle pins. `tf` carries (doc_id, dl, term, tf); `dfreq`
    * (term, df); `stats` one row (n_docs, avgdl). */
  def bm25Rank(tf: DataFrame, dfreq: DataFrame, stats: DataFrame,
               k1: Double, b: Double, k: Int,
               groupCols: Seq[String] = Seq.empty): DataFrame = {
    val scored = tf
      .join(broadcast(dfreq), Seq("term"))
      .crossJoin(broadcast(stats))
    val idf = ((col("n_docs") - col("df")).cast("double") + lit(0.5)) /
      (col("df").cast("double") + lit(0.5))
    val tfn = (col("tf").cast("double") * lit(k1 + 1.0)) /
      (col("tf").cast("double") + lit(k1) *
        (lit(1.0 - b) + lit(b) * (col("dl").cast("double") / col("avgdl"))))
    // `groupCols` (e.g. query_id for the batch-serving form) ride
    // through the per-doc sum and scope the top-k — empty means the
    // single-query global ranking
    val perDoc = scored
      .select(groupCols.map(col) :+ col("doc_id") :+
        round((idf * tfn) * lit(1000000.0)).cast("long").as("micro"): _*)
      .groupBy((groupCols :+ "doc_id").map(col): _*)
      .agg(sum(col("micro")).as("score_micro"))
    TopK.perGroupTopK(perDoc, groupCols,
        struct((-col("score_micro")).as("negs"), col("doc_id"), col("score_micro")), k)
      .select(groupCols.map(col) ++ Seq(
        col("col.doc_id").as("doc_id"),
        col("col.score_micro").as("score_micro"),
        (col("pos") + 1).cast("int").as("rank")): _*)
      .orderBy((groupCols :+ "rank").map(col): _*)
  }

  /** Build and publish the index from a (doc_id, text) relation. The
    * whole first build stages under a hidden sibling and lands with ONE
    * directory rename ([[IndexIO.publish]]) — same as its siblings.
    * `withPositions` adds a term-sorted positional-postings table
    * (id, pos, term) for exact phrase search ([[phraseHits]]) — the
    * standard size-for-capability trade, so it is opt-in. */
  def write(docs: DataFrame, path: String, partitions: Int = 8,
            withPositions: Boolean = false): Unit = {
    val spark = docs.sparkSession
    val staging = IndexIO.stagingFor(path)
    writeShardTables(docs, staging, 0, partitions, withPositions)
    IndexIO.commitShard(spark, staging, 0)
    IndexIO.publish(spark, staging, path)
  }

  /** Build and publish a NEW VERSION under a versioned root — the
    * object-store-safe counterpart of [[write]], as
    * [[MinHashIndex.writeVersioned]] / [[VectorIndex.writeVersioned]]:
    * every rebuild lands in an immutable `v{N}` directory and a
    * one-line CURRENT pointer flips to it, so a reader
    * ([[bm25TopKCurrent]]) can never observe a partially-copied index
    * even where directory renames are copy+delete, and rollback is
    * [[IndexIO.setCurrent]] instead of a rebuild. Returns the published
    * version path ([[append]] targets it directly — appends stay within
    * one version). */
  def writeVersioned(docs: DataFrame, root: String, partitions: Int = 8,
                     withPositions: Boolean = false): String = {
    val spark = docs.sparkSession
    val staging = IndexIO.stagingFor(root)
    writeShardTables(docs, staging, 0, partitions, withPositions)
    IndexIO.commitShard(spark, staging, 0)
    IndexIO.publishVersioned(spark, staging, root)
  }

  /** [[bm25TopK]] over whichever version CURRENT names — one
    * small-file pointer read per query, then the resolved immutable
    * version serves it (a publish landing mid-query is invisible). */
  def bm25TopKCurrent(spark: SparkSession, root: String, terms: Seq[String],
                      k: Int, k1: Double, b: Double): DataFrame =
    bm25TopK(spark, IndexIO.resolveCurrent(spark, root), terms, k, k1, b)

  /** Driver-side bounds for [[writeShardTablesDriver]]: a micro-batch
    * under both fits comfortably in driver memory (32k docs / 64 MB of
    * text → a few hundred MB of postings structures, transient). */
  private val MaxDriverDocs = 1 << 15
  private val MaxDriverChars = 64L << 20

  /** SMALL-BATCH driver route for the shard write (the
    * [[IndexIO.publishIdShard]] probe-then-route pattern applied to the
    * whole append): a streaming micro-batch / evolve append is a few
    * thousand docs, and the Spark path pays TWO write jobs (postings,
    * doclens+observe) of pure scheduling floor to persist what amounts
    * to a few MB. A cheap size-gate aggregate runs FIRST (count + total
    * chars — the bound protects driver memory, so it must be checked
    * before anything materializes); under the bounds the batch collects
    * and the three tables write driver-side with the parquet Group
    * API (same files-in-`shard=K`-dir layout, same column order, same
    * optional int64/int32/UTF8 types as the Spark write — readers and
    * the directory protocol can't tell). Tokenization parity:
    * [[graft.core.Norm.canonStr]] is the spec-pinned scalar form of the
    * column canon, so df/dl/tf match the Spark path bit-for-bit (the
    * ta_bm25 oracle hashes pin it end-to-end). Over the bounds →
    * `false`, caller falls back to the distributed write (the right
    * plan at that size). Returns whether it handled the write. */
  private def writeShardTablesDriver(docs: DataFrame, root: String, shard: Int,
                                     withPositions: Boolean): Boolean = {
    val spark = docs.sparkSession
    // only a LongType doc_id may take this route: the driver writer
    // emits int64, and an int32-typed index (legal on the Spark path,
    // which preserves the source type) must never receive a mixed-
    // physical-type shard — the vectorized reader rejects the table
    if (docs.schema("doc_id").dataType !=
      org.apache.spark.sql.types.LongType) return false
    // size gate BEFORE any collect: a small-count/large-text batch must
    // route to the distributed write without ever materializing on the
    // driver (the bound exists to protect driver memory, so it cannot
    // be checked on the collected result)
    val gate = docs.agg(count(lit(1)).as("n"),
      coalesce(sum(length(col("text")).cast("long")), lit(0L)).as("chars"))
      .collect()(0)
    if (gate.getLong(0) > MaxDriverDocs || gate.getLong(1) > MaxDriverChars)
      return false
    val probe = docs.select(col("doc_id"), col("text")).collect()
    val parsed = probe.map(r =>
      (r.getLong(0), if (r.isNullAt(1)) "" else r.getString(1)))
    IndexIO.crashTick()
    // tokenize once per doc (scalar canon); mirror the Spark plan's
    // shapes exactly: doclens = one row per INPUT row, postings merge
    // tf across rows by (term, doc_id) like the groupBy does
    val toks = parsed.map { case (id, text) =>
      (id, Norm.canonStr(text).split(" ").filter(_.nonEmpty))
    }
    val tf = scala.collection.mutable.LinkedHashMap.empty[(String, Long, Int), Long]
    for ((id, ts) <- toks; t <- ts)
      tf((t, id, ts.length)) = tf.getOrElse((t, id, ts.length), 0L) + 1L
    // term-sorted postings — the same (term, doc_id) layout the Spark
    // route sorts to, so row-group pruning on term keeps working
    DriverParquet.writeGroups(spark, s"$root/postings/shard=$shard",
      """message postings { optional binary term (UTF8);
        |  optional int64 doc_id; optional int32 dl; optional int64 tf; }"""
        .stripMargin) { (schema, w) =>
      for (((term, id, dl), n) <- tf.toSeq.sortBy(e => (e._1._1, e._1._2))) {
        val g = new org.apache.parquet.example.data.simple.SimpleGroup(schema)
        g.add("term", term); g.add("doc_id", id); g.add("dl", dl); g.add("tf", n)
        w.write(g)
      }
    }
    DriverParquet.writeGroups(spark, s"$root/doclens/shard=$shard",
      "message doclens { optional int64 doc_id; optional int32 dl; }") {
      (schema, w) =>
        for ((id, ts) <- toks.sortBy(_._1)) {
          val g = new org.apache.parquet.example.data.simple.SimpleGroup(schema)
          g.add("doc_id", id); g.add("dl", ts.length)
          w.write(g)
        }
    }
    writeStatsShard(spark, s"$root/stats/shard=$shard",
      toks.length.toLong, toks.iterator.map(_._2.length.toLong).sum)
    if (withPositions)
      DriverParquet.writeGroups(spark, s"$root/positions/shard=$shard",
        """message positions { optional int64 id;
          |  optional int64 pos; optional binary term (UTF8); }"""
          .stripMargin) { (schema, w) =>
        val rows = for ((id, ts) <- toks; (t, i) <- ts.zipWithIndex)
          yield (t, id, (i + 1).toLong)
        for ((t, id, pos) <- rows.sortBy(r => (r._1, r._2, r._3))) {
          val g = new org.apache.parquet.example.data.simple.SimpleGroup(schema)
          g.add("id", id); g.add("pos", pos); g.add("term", t)
          w.write(g)
        }
      }
    true
  }

  /** One shard of every table under `root` from a doc batch. The spine
    * (with its token arrays) is `persist`ed so the regex-heavy tokenize
    * runs ONCE for the derived writes — lineage is KEPT (unlike
    * localCheckpoint), so an executor loss on a real cluster recomputes
    * the lost partitions instead of failing the build. `partitions == 1`
    * tries the driver route first. */
  private def writeShardTables(docs: DataFrame, root: String, shard: Int,
                               partitions: Int, withPositions: Boolean): Unit = {
    if (partitions == 1 &&
      writeShardTablesDriver(docs, root, shard, withPositions)) return
    val spine = docSpine(docs)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try writeShard({
        case "postings" =>
          spine.select(col("doc_id"), col("dl"), explode(col("toks")).as("term"))
            .groupBy("term", "doc_id", "dl").agg(count(lit(1)).as("tf"))
        case "doclens" => spine.select("doc_id", "dl")
        // the (id, pos, term) contract of TextAnalysis.positionalPostings,
        // derived from the SAME spine tokenization (1-based positions)
        case "positions" =>
          spine.select(col("doc_id").as("id"), posexplode(col("toks")))
            .select(col("id"), (col("pos") + 1).cast("long").as("pos"),
              col("col").as("term"))
      }, root, shard, partitions, withPositions)
    finally spine.unpersist(false)
  }

  /** Write `root/<table>/shard=K` for every table from `rows(table)` —
    * a build's spine or a fold's surviving rows ([[ShardedIndex]]).
    * Term-sorted layouts; `partitions == 1` is the SMALL-BATCH route
    * ([[IndexIO.sortedLayout]]: no range exchange, no sampling job).
    * Postings write first: for a build that MATERIALIZES the spine
    * cache (the tokenize pass runs exactly once); the doclens and
    * positions legs then read cached blocks and are independent of each
    * other — overlapped (optimization guide §2.6), which folds two
    * write-job floors into the slower one on small batches and overlaps
    * two independent I/O legs at scale. */
  private def writeShard(rows: String => DataFrame, root: String, shard: Int,
                         partitions: Int, withPositions: Boolean): Unit = {
    IndexIO.sortedLayout(rows("postings").select("term", "doc_id", "dl", "tf"),
        partitions, Seq("term", "doc_id"))
      .write.mode(SaveMode.Overwrite).parquet(s"$root/postings/shard=$shard")
    val positionsLeg: Option[java.util.concurrent.Future[_]] =
      if (!withPositions) None
      else {
        val positions = IndexIO.sortedLayout(rows("positions").select("id", "pos", "term"),
          partitions, Seq("term", "id", "pos"))
        val pool = java.util.concurrent.Executors.newSingleThreadExecutor()
        try Some(pool.submit(new java.util.concurrent.Callable[Unit] {
          def call(): Unit = positions.write.mode(SaveMode.Overwrite)
            .parquet(s"$root/positions/shard=$shard")
        })) finally pool.shutdown()
      }
    // first-failure ordering (ADVICE r18): when BOTH legs fail, the
    // doclens exception the caller unwound on stays primary and the
    // positions leg's failure attaches as suppressed — the former
    // finally-block f.get() replaced the primary with the secondary
    try {
      writeDoclensAndStats(rows("doclens").select("doc_id", "dl"), root, shard, partitions)
      positionsLeg.foreach { f =>
        try f.get()
        catch { case e: java.util.concurrent.ExecutionException => throw e.getCause }
      }
    } catch {
      case primary: Throwable =>
        positionsLeg.foreach { f =>
          try f.get()
          catch {
            case e: Throwable =>
              val sec = e match {
                case ee: java.util.concurrent.ExecutionException => ee.getCause
                case x => x
              }
              if ((sec ne primary) && (primary.getSuppressed.forall(_ ne sec)))
                primary.addSuppressed(sec)
          }
        }
        throw primary
    }
  }

  /** Write the doclens shard with an [[org.apache.spark.sql.Observation]]
    * computing (n_docs, sum_dl) during the SAME job, then publish the
    * one-row stats shard from the driver-held result — the former
    * separate spine-scan aggregate was one whole Spark job per
    * build/append. Metric identities: `count(1)` and the null-coalesced
    * `sum(dl)` match a standalone aggregate bit-for-bit (both INT64), so
    * shard stats still sum exactly. */
  private def writeDoclensAndStats(doclens: DataFrame, root: String,
                                   shard: Int, partitions: Int): Unit = {
    val spark = doclens.sparkSession
    val obs = org.apache.spark.sql.Observation()
    (if (partitions == 1) doclens.coalesce(1) // see IndexIO.sortedLayout
     else doclens.repartitionByRange(partitions, col("doc_id")))
      // observe ABOVE the range exchange: repartitionByRange runs a
      // sampling pass over its child, which would execute a below-the-
      // exchange CollectMetrics twice and double-count the corpus
      .observe(obs, count(lit(1)).as("n_docs"),
        coalesce(sum(col("dl")), lit(0L)).as("sum_dl"))
      .sortWithinPartitions("doc_id")
      .write.mode(SaveMode.Overwrite).parquet(s"$root/doclens/shard=$shard")
    val m = obs.get
    writeStatsShard(spark, s"$root/stats/shard=$shard",
      m("n_docs").asInstanceOf[Long], m("sum_dl").asInstanceOf[Long])
  }

  /** One-row stats shard, written DRIVER-SIDE with the parquet Group
    * API: the values are already driver-held (the doclens write's
    * Observation), so launching a whole Spark job to persist 16 bytes
    * was a fixed scheduling cost on every build/append — measurable
    * exactly where batches are smallest (streaming ingest). The layout
    * is a one-file `shard=K` dir of two INT64 columns, so
    * `spark.read.parquet` and every directory-level protocol check read
    * it exactly like a one-task Spark write. */
  private def writeStatsShard(spark: SparkSession, dir: String,
                              nDocs: Long, sumDl: Long): Unit = {
    IndexIO.crashTick() // protocol-level driver write: fuzz kill point
    DriverParquet.writeGroups(spark, dir,
      "message stats { required int64 n_docs; required int64 sum_dl; }") { (schema, w) =>
      val g = new org.apache.parquet.example.data.simple.SimpleGroup(schema)
      g.add("n_docs", nDocs)
      g.add("sum_dl", sumDl)
      w.write(g)
    }
  }

  /** Driver-side per-shard (n_docs, sum_dl) over the committed stats
    * shards — stats rows are one per shard, so serving reads them the
    * way it reads commit markers (small-file driver I/O), not as a
    * Spark scan + aggregate + broadcast: two fewer plan legs on every
    * probe, and the corpus constants become literals in the scoring
    * expression. Files of either generation (the former one-task Spark
    * writes, or [[writeStatsShard]]) parse identically. An empty
    * `committed` set is the legacy single-shard layout — read whatever
    * stats shards exist, as [[IndexIO.readCommitted]] would. */
  private def statsPerShard(spark: SparkSession, path: String,
                            committed: Seq[Int]): Map[Int, (Long, Long)] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val ids =
      if (committed.nonEmpty) committed
      else IndexIO.shardIds(spark, s"$path/stats")
    ids.map { k =>
      val dir = new org.apache.hadoop.fs.Path(s"$path/stats/shard=$k")
      val fs = dir.getFileSystem(conf)
      var n = 0L
      var sdl = 0L
      for (st <- fs.listStatus(dir)
           if st.isFile && !st.getPath.getName.startsWith("_") &&
             !st.getPath.getName.startsWith(".")) {
        val r = org.apache.parquet.hadoop.ParquetReader
          .builder(new org.apache.parquet.hadoop.example.GroupReadSupport(),
            st.getPath)
          .withConf(conf).build()
        try {
          var g = r.read()
          while (g != null) {
            n += g.getLong("n_docs", 0)
            sdl += g.getLong("sum_dl", 0)
            g = r.read()
          }
        } finally r.close()
      }
      k -> ((n, sdl))
    }.toMap
  }

  private def statsTotals(spark: SparkSession, path: String,
                          committed: Seq[Int]): (Long, Long) = {
    val per = statsPerShard(spark, path, committed)
    (per.values.map(_._1).sum, per.values.map(_._2).sum)
  }

  private val Tables = Seq("postings", "doclens", "stats")

  /** The table set of a stored index — `positions` joins the commit
    * protocol iff the index was written with it. */
  private def tablesOf(spark: SparkSession, path: String): Seq[String] =
    Tables ++ (if (IndexIO.shardIds(spark, s"$path/positions").nonEmpty)
      Seq("positions") else Nil)

  /** This index's shape for the shared protocol ([[ShardedIndex]]):
    * doclens counts documents; stats re-derive from the folded doclens;
    * positions key their doc id as `id`. */
  private def family(spark: SparkSession, path: String): ShardedIndex.Family = {
    val tables = tablesOf(spark, path)
    ShardedIndex.Family("TextIndex", tables, "doclens", "doc_id",
      (rows, stage, k, partitions) =>
        writeShard(rows, stage, k, partitions, tables.contains("positions")),
      idCols = Map("positions" -> "id"))
  }

  /** Append a new document batch as ONE NEW committed shard of each
    * table ([[ShardedIndex.append]]) — existing shard files are never
    * read, rewritten, or moved (spec-pinned byte-identical), so at
    * 100 TB an append costs only the new batch. Postings/df/stats all
    * sum across shards exactly, so serve-after-append ≡
    * serve-after-rebuild for disjoint doc ids (oracle-pinned).
    * Re-ingesting an existing doc_id would double its postings — route
    * re-crawls through [[delete]] + [[compact]] first, as with
    * [[MinHashIndex.append]].
    *
    * CONCURRENT appenders are safe: each claims a distinct shard id and
    * lands under its own marker (spec-pinned: concurrent appends ≡ some
    * sequential order). A non-empty `batchTag` makes a retried batch a
    * no-op once it has committed (exactly-once streaming ingest). Crash
    * garbage stays invisible to readers and is reclaimed by the next
    * [[compact]]/[[compactSmall]]. */
  def append(docs: DataFrame, path: String, partitions: Int = 8,
             batchTag: String = ""): Unit = {
    val f = family(docs.sparkSession, path)
    ShardedIndex.append(docs.sparkSession, path, f, batchTag)((stage, k) =>
      writeShardTables(docs, stage, k, partitions, f.tables.contains("positions")))
  }

  /** Tombstone a set of doc_ids (takedowns, re-crawls): one tiny
    * atomic shard under `deletes/`, index-wide ([[ShardedIndex.delete]]).
    * Serving subtracts the tombstoned docs EXACTLY — postings
    * anti-joined out, their doc count and length mass removed from the
    * BM25 corpus constants via the stored doclens — so results equal an
    * index never containing them (oracle-pinned). [[compact]] physically
    * drops them and clears the set. */
  def delete(ids: DataFrame, path: String): Unit =
    ShardedIndex.delete(ids, path, "doc_id", "doc_id")

  /** Fold all committed shards back to one (`shard=0`), dropping
    * tombstoned docs for good and re-deriving stats from the compacted
    * doclens; full staging + single publish rename
    * ([[ShardedIndex.compact]]). Results unchanged; probe file counts
    * and the tombstone anti-join disappear. EXCLUSIVE of appends — the
    * migration / claim-reset op; a live crawl loop compacts via
    * [[maintain]]/[[compactAllInPlace]]. */
  def compact(spark: SparkSession, path: String, partitions: Int = 8): Unit =
    ShardedIndex.compact(spark, path, family(spark, path), partitions)

  /** SIZE-TIERED incremental compaction — the 100 TB answer to "daily
    * appends accumulate shards, but [[compact]] rewrites the WHOLE
    * index to reclaim a 1% tombstone set". Folds ONLY shards that are
    * small (total table bytes ≤ `maxShardBytes`) or tombstone-heavy
    * (≥ `tombstoneFrac` of the shard's docs deleted) into ONE new shard
    * under a REPLACES marker ([[ShardedIndex.compactTiered]]); every
    * other shard's files are untouched (spec-pinned byte-identical).
    * Tombstones falling inside folded shards are dropped for good
    * (their doclens rows vanish, so serving stops subtracting them —
    * exact by construction); the tombstone SET only clears on a full
    * compaction, since unfolded shards may still hold listed ids.
    * Returns the folded shard ids (empty = nothing worth folding). */
  def compactSmall(spark: SparkSession, path: String, maxShardBytes: Long,
                   partitions: Int = 8, tombstoneFrac: Double = 0.5): Seq[Int] =
    ShardedIndex.compactTiered(spark, path, family(spark, path), Some(maxShardBytes),
      partitions, tombstoneFrac)

  /** Full compaction WITHOUT the root-replacing rename: folds ALL live
    * shards into one new shard under the existing root (REPLACES
    * marker, same swap atomicity as [[compactSmall]]) and clears the
    * tombstone shards it observed at entry. This is [[maintain]]'s
    * full-compact route: unlike [[compact]] (which renames the whole
    * index root aside and would strand a concurrent appender's
    * publishes), appends racing it land intact. Returns the folded
    * shard ids. */
  def compactAllInPlace(spark: SparkSession, path: String,
                        partitions: Int = 8): Seq[Int] =
    ShardedIndex.compactTiered(spark, path, family(spark, path), None, partitions, 0.5)

  /** Compaction trigger policy ([[ShardedIndex.maintain]]): call after
    * each crawl/ingest generation; keeps live shards ≤ `maxShards` and
    * the dead-row fraction < `tombstoneFrac` by choosing (nothing |
    * size-tiered [[compactSmall]] | fold-all [[compactAllInPlace]])
    * from shard stats. Serving equality through every choice is
    * spec-pinned. */
  def maintain(spark: SparkSession, path: String, maxShards: Int = 8,
               tombstoneFrac: Double = 0.3, partitions: Int = 8): MaintainReport =
    ShardedIndex.maintain(spark, path, family(spark, path), maxShards,
      tombstoneFrac, partitions)

  /** BM25 top-k for a term set, served ENTIRELY from the stored
    * layout: the postings probe is a term-`IN` over term-sorted row
    * groups pruned to committed shards; df comes from the probed rows;
    * the corpus constants come from the stats table minus the exact
    * tombstone mass. Identical output (and oracle) to the inline
    * corpus-scan form over the same live docs.
    *
    * Serving route: the IN-PROCESS fast path ([[bm25TopKFast]] — the
    * [[graft.query.ScoutEngine.forwardFast]] treatment applied to text
    * retrieval) when the probe is bounded; the distributed plan
    * otherwise, bit-equal by construction. */
  def bm25TopK(spark: SparkSession, path: String, terms: Seq[String],
               k: Int, k1: Double, b: Double): DataFrame = {
    require(terms.nonEmpty, "bm25TopK needs at least one probe term")
    bm25TopKFast(spark, path, terms, k, k1, b).getOrElse {
      val (tf, dfreq, stats) = probe(spark, path, terms)
      bm25Rank(tf, dfreq, stats, k1, b, k)
    }
  }

  /** Probed-postings bound for the in-process serve: 64k rows × ~40 B
    * collects in one bounded job and scores in microseconds. */
  private val MaxFastPostings = 1 << 16

  // (path, committed ids, delete shard ids) -> (removed n, removed dl
  // mass). Bounded in practice by index states a JVM actually serves;
  // entries for dead states are garbage (a few tens of bytes each).
  private val removedMassCache = new java.util.concurrent.ConcurrentHashMap[
    (String, String, String), (Long, Long)]()

  /** IN-PROCESS single-probe BM25 serve: ONE bounded Spark job (the
    * term-pruned postings collect; a second tiny one only when
    * tombstones exist) and driver-side scoring, instead of the
    * distributed plan's broadcast-build + rank + top-k job chain — a
    * ~150-300 ms scheduling floor per serve however small the probe.
    * Scoring mirrors [[bm25Rank]] TERM FOR TERM: the rational idf, the
    * same double evaluation order, `BigDecimal.valueOf(...).setScale(0,
    * HALF_UP)` for Spark's `round`, the INT64 per-doc micro sum (order-
    * free), and the (score desc, doc_id asc) tie contract — bit-equal
    * results, spec-pinned against the forced job path. Routes to the
    * job path (None) when: no commit markers (legacy), the tombstone
    * set is past the driver-read bound, or the probe exceeds
    * [[MaxFastPostings]] rows — exactly the sizes where the distributed
    * plan is the right one. `-Dgraft.bm25.fast=0` disables (A/B and
    * job-path spec seam). */
  private def bm25TopKFast(spark: SparkSession, path: String,
                           terms: Seq[String], k: Int, k1: Double,
                           b: Double): Option[DataFrame] = {
    if (sys.props.get("graft.bm25.fast").contains("0")) return None
    val committed = IndexIO.liveCommittedIds(spark, path)
    if (committed.isEmpty) return None
    // ONE listing drives both the tombstone read and the cache key: a
    // delete landing between a read and a separate re-listing would
    // cache the OLD tombstone set's mass under the NEW state's key
    // (round-16 advice), poisoning every later fast-path serve on this
    // JVM for that state.
    val smallDels = IndexIO.readIdShardsListed(spark, s"$path/deletes", "doc_id")
    if (smallDels.isEmpty) return None // tombstones past the driver bound
    val (delShardIds, dels) = smallDels.get
    val delSet = dels.toSet
    // defensive casts: an index built from an int-typed doc_id column
    // (the Spark write preserves source types) must serve through this
    // route too, not ClassCastException on getLong
    val probed = IndexIO.readCommitted(spark, path, "postings", committed)
      .filter(col("term").isin(terms: _*))
      .select(col("term"), col("doc_id").cast("long").as("doc_id"),
        col("dl").cast("int").as("dl"), col("tf").cast("long").as("tf"))
      .limit(MaxFastPostings + 1).collect()
    if (probed.length > MaxFastPostings) return None
    val live = probed.filter(r => !delSet.contains(r.getLong(1)))
    val (nd0, sdl0) = statsTotals(spark, path, committed)
    // the removed (tombstone) doc-count/length mass is a pure function
    // of (live shard set, delete shard set) — memoized so a standing
    // probe loop pays its one aggregate job per INDEX STATE, not per
    // serve (the key changes the instant an append, fold, or delete
    // lands, so staleness is structurally impossible)
    val (rnd, rsdl) =
      if (dels.isEmpty) (0L, 0L)
      else removedMassCache.computeIfAbsent(
        (path, committed.mkString(","), delShardIds.mkString(",")),
        _ => {
          val r = IndexIO.smallAggHint(spark, path, "doclens", committed,
              IndexIO.readCommitted(spark, path, "doclens", committed)
                .filter(col("doc_id").isInCollection(dels.toSeq)))
            .agg(count(lit(1)).as("n"), coalesce(sum(col("dl")), lit(0L)).as("s"))
            .collect()(0)
          (r.getLong(0), r.getLong(1))
        })
    val nd = nd0 - rnd
    val avgdl = if (nd > 0) (sdl0 - rsdl).toDouble / nd.toDouble else 0.0
    val df = new scala.collection.mutable.HashMap[String, Long]()
    for (r <- live) df(r.getString(0)) = df.getOrElse(r.getString(0), 0L) + 1L
    val acc = new scala.collection.mutable.HashMap[Long, Long]()
    for (r <- live) {
      val dft = df(r.getString(0))
      val idf = ((nd - dft).toDouble + 0.5) / (dft.toDouble + 0.5)
      val tfv = r.getLong(3).toDouble
      val tfn = (tfv * (k1 + 1.0)) /
        (tfv + k1 * ((1.0 - b) + b * (r.getInt(2).toDouble / avgdl)))
      val micro = java.math.BigDecimal.valueOf(idf * tfn * 1000000.0)
        .setScale(0, java.math.RoundingMode.HALF_UP).longValue
      val doc = r.getLong(1)
      acc(doc) = acc.getOrElse(doc, 0L) + micro
    }
    val top = acc.toSeq.sortBy { case (doc, micro) => (-micro, doc) }.take(k)
    import spark.implicits._
    Some(top.zipWithIndex.map { case ((doc, micro), i) => (doc, micro, i + 1) }
      .toDF("doc_id", "score_micro", "rank"))
  }

  /** Bulk BM25 retrieval for a QUERY RELATION — the text-retrieval twin
    * of the bulk geocode join (g11 serves a geocode per query ROW; this
    * serves a ranked doc list per query row). `queries` carries
    * (query_id, term) rows; the postings probe is ONE term-`IN` over the
    * UNION of all query vocabularies (the per-term tf/df/stats work is
    * shared across every query that mentions the term — per-query
    * serving would re-read the same slivers |queries| times), then the
    * tiny query relation broadcast-joins in and the per-(query, doc)
    * sum + per-query top-k run as one distributed job. The probed term
    * set is collected bounded (`maxLiteralTerms`, the
    * [[VectorIndex.topK]] literal-route treatment): below the cap the
    * filter pushes to the term-sorted scan as a literal `IN`; above it
    * a broadcast semi-join keeps driver memory and plan size flat
    * however large the query batch grows. */
  def bm25TopKBatch(spark: SparkSession, path: String, queries: DataFrame,
                    k: Int, k1: Double, b: Double,
                    maxLiteralTerms: Int = 10000): DataFrame = {
    require(queries.columns.contains("query_id") && queries.columns.contains("term"),
      s"queries need (query_id, term) columns, got ${queries.columns.mkString(", ")}")
    val qterms = queries.select("query_id", "term").distinct()
      // read twice (term collect + the scoring join): persist — the
      // VectorIndex.topK treatment (materializes inside the collect,
      // lineage kept for executor-loss recompute). Lifecycle: no
      // explicit unpersist — the scoring join in the RETURNED plan still
      // reads these blocks, so eager unpersist would recompute them; the
      // ContextCleaner reclaims them once the returned plan is GC'd,
      // same as the checkpoint RDDs this pattern replaced. A long-lived
      // server reuses sessions; it does not batch-serve faster than GC.
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val terms = qterms.select("term").distinct()
      .limit(math.min(maxLiteralTerms.toLong + 1, Int.MaxValue.toLong).toInt)
      .collect().map(_.getString(0)).toSeq
    val (tf, dfreq, stats) =
      if (terms.length <= maxLiteralTerms) probe(spark, path, terms)
      else probeJoin(spark, path, qterms.select("term").distinct())
    bm25Rank(tf.join(broadcast(qterms), Seq("term")), dfreq, stats,
      k1, b, k, groupCols = Seq("query_id"))
  }

  /** The stored-layout probe shared by the serving entry points: the
    * live (doc_id, dl, term, tf) rows for `terms` (committed shards
    * only, tombstones anti-joined), their corpus df, and the corpus
    * BM25 constants minus the exact tombstone mass. */
  private def probe(spark: SparkSession, path: String,
                    terms: Seq[String]): (DataFrame, DataFrame, DataFrame) =
    probeWith(spark, path, _.filter(col("term").isin(terms: _*)))

  /** [[probe]] with the term restriction as a broadcast semi-join —
    * the above-the-literal-cap route of [[bm25TopKBatch]]. */
  private def probeJoin(spark: SparkSession, path: String,
                        terms: DataFrame): (DataFrame, DataFrame, DataFrame) =
    probeWith(spark, path, _.join(broadcast(terms), Seq("term"), "left_semi"))

  private def probeWith(spark: SparkSession, path: String,
                        restrict: DataFrame => DataFrame): (DataFrame, DataFrame, DataFrame) = {
    val committed = IndexIO.liveCommittedIds(spark, path)
    require(committed.nonEmpty, s"no committed shards under $path — not a TextIndex?")
    def tbl(name: String) = IndexIO.readCommitted(spark, path, name, committed)
    // tombstone routing: small takedown sets (the common case) are read
    // DRIVER-SIDE ([[IndexIO.readIdShards]]) and pushed into the scans
    // as literal membership predicates — no deletes parquet read in the
    // plan, no broadcast anti-join build per probe. Wide literal lists
    // measurably dominate per-request ANALYSIS cost (same finding as
    // ScoutEngine.PoiRowCache), so past `maxLiteralIds` the
    // driver-read set becomes a broadcast anti-join of a LocalRelation
    // (still no deletes scan in the plan); a set past the driver-read
    // bound falls back to the distributed anti-join, the right plan at
    // that size.
    val maxLiteralIds = 1024
    val smallDels = IndexIO.readIdShards(spark, s"$path/deletes", "doc_id")
    val dels = if (smallDels.isDefined) None else ShardedIndex.tombstones(spark, path, "doc_id")
    lazy val localDels = { // driver ids as a one-column LocalRelation
      import spark.implicits._
      broadcast(smallDels.get.toSeq.toDF("doc_id"))
    }
    val base = restrict(tbl("postings"))
    val tf = (smallDels match {
        case Some(arr) if arr.nonEmpty && arr.length <= maxLiteralIds =>
          base.filter(!col("doc_id").isInCollection(arr.toSeq))
        case Some(arr) if arr.nonEmpty =>
          base.join(localDels, Seq("doc_id"), "left_anti")
        case _ => dels.foldLeft(base)(_.join(_, Seq("doc_id"), "left_anti"))
      })
      .select("doc_id", "dl", "term", "tf")
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    // corpus totals from the driver-side stats read ([[statsPerShard]]):
    // literal BM25 constants, no stats scan leg in the probe plan
    val (nd, sdl) = statsTotals(spark, path, committed)
    // zero-doc guard: the driver-side Scala divide would yield 0.0/0.0 =
    // NaN (where the former Spark divide produced NULL) and a silent NaN
    // would leak into every BM25 score — emit avgdl = 0.0 instead (no
    // live doc means no posting survives the anti-join, so the constant
    // is never multiplied into a real score)
    def removedStats(removed: DataFrame): DataFrame = {
      val agg = removed
        .agg(count(lit(1)).as("rnd"), coalesce(sum(col("dl")), lit(0L)).as("rsdl"))
      val liveN = lit(nd) - col("rnd")
      agg.select(
        liveN.as("n_docs"),
        when(liveN > 0,
          (lit(sdl) - col("rsdl")).cast("double") / liveN.cast("double"))
          .otherwise(lit(0.0)).as("avgdl"))
    }
    lazy val literalStats = {
      // a one-row LocalRelation: broadcasting it collects driver-side
      // rows — no scan job at all for the tombstone-free serving path
      import spark.implicits._
      Seq((nd, if (nd > 0) sdl.toDouble / nd.toDouble else 0.0))
        .toDF("n_docs", "avgdl")
    }
    val stats = smallDels match {
      case Some(arr) if arr.nonEmpty && arr.length <= maxLiteralIds =>
        removedStats(tbl("doclens").filter(col("doc_id").isInCollection(arr.toSeq)))
      case Some(arr) if arr.nonEmpty =>
        removedStats(tbl("doclens").join(localDels, Seq("doc_id"), "left_semi"))
      case Some(_) => literalStats
      case None => dels match {
        case Some(d) => removedStats(tbl("doclens").join(d, Seq("doc_id"), "left_semi"))
        case None => literalStats
      }
    }
    (tf, dfreq, stats)
  }

  /** Exact phrase occurrences served from the stored positional
    * postings (an index written with `withPositions = true`): the probe
    * reads ONLY the phrase terms' term-sorted slivers (pruned to
    * committed shards, tombstones anti-joined), then runs the same
    * position-adjacency join chain as the corpus-scan form
    * ([[TextAnalysis.phraseSearch]] — one body, shared). Returns one
    * row per occurrence (id, pos of the anchor term). */
  def phraseHits(spark: SparkSession, path: String,
                 phrase: Seq[String]): DataFrame = {
    require(phrase.nonEmpty, "phraseHits needs a non-empty phrase")
    val committed = IndexIO.liveCommittedIds(spark, path)
    require(committed.nonEmpty, s"no committed shards under $path — not a TextIndex?")
    require(tablesOf(spark, path).contains("positions"),
      s"index at $path was written without positions (write(withPositions = true))")
    val pos = IndexIO.readCommitted(spark, path, "positions", committed)
      .filter(col("term").isin(phrase.distinct: _*))
      .select("id", "pos", "term")
    val live = ShardedIndex.tombstones(spark, path, "doc_id").foldLeft(pos)((p, d) =>
      p.join(d.withColumnRenamed("doc_id", "id"), Seq("id"), "left_anti"))
    TextAnalysis.phraseSearch(live, phrase)
  }
}

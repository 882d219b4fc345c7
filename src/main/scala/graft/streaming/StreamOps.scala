package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, Trigger}

/** Structured Streaming surface (SURVEY.md §2.8 extension targets):
  * watermarked tumbling windows, session windows, streaming dedup, and
  * an availableNow replay harness that lets batch oracles check
  * streaming results (replay has no late data, so watermarked streaming
  * aggregation ≡ the batch aggregate).
  */
object StreamOps {

  /** THE ingestion seam: every transform in this object takes a
    * streaming DataFrame, never a path — a MemoryStream, Kafka-shaped
    * source, or rate source plugs into any of them directly
    * (spec-pinned: the near-dup prefilter and interval join produce
    * identical results from MemoryStream and from this file source).
    * This is the parquet FILE variant, layout-agnostic over the two
    * on-disk shapes a fixture table ships in: the driver writes each
    * table as ONE FILE (`<table>.parquet`), while Spark-written copies
    * (ScaleUp's 10× fixture) are DIRECTORIES of part-files. A dir +
    * `pathGlobFilter` source silently matches ZERO files against the
    * directory layout (the filter tests leaf file names), and a direct
    * file path fails the source's basePath-must-be-a-directory check —
    * so branch on what is actually on disk. */
  def readStreamOf(s: SparkSession, dir: String, table: String,
      schema: org.apache.spark.sql.types.StructType): DataFrame = {
    val path = new org.apache.hadoop.fs.Path(s"$dir/$table.parquet")
    val fs = path.getFileSystem(s.sparkContext.hadoopConfiguration)
    val reader = s.readStream.schema(schema)
    if (fs.getFileStatus(path).isDirectory) reader.parquet(path.toString)
    else reader.option("pathGlobFilter", s"$table.parquet").parquet(dir)
  }

  /** Tumbling 1-hour event counts with a watermark — the streaming twin
    * of the batch `window()` aggregate. */
  def hourlyEventCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), round(sum("value"), 2).as("sum_value"))

  /** Stream-static enrichment: the ubiquitous "join the event stream to
    * a dimension table" serving shape — the static side is broadcast to
    * every micro-batch (Spark re-plans the static side per batch; the
    * STREAM never shuffles for the join), then a watermarked daily
    * aggregate per segment. Money sums in integer cents (exact and
    * aggregation-order-free — a float `sum(value)` over a day's worth
    * of doubles would hash differently per partitioning). */
  def enrichedDailyCounts(events: DataFrame, dim: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .join(broadcast(dim), col("user_id") === col("c_custkey"))
      .groupBy(window(col("ts"), "1 day"), col("c_mktsegment"))
      .agg(count(lit(1)).as("n_events"),
        sum(round(col("value") * lit(100.0)).cast("long")).as("sum_cents"))

  /** Session windows per user: 30-minute inactivity gap. Works in both
    * batch (session_window is batch-capable) and streaming mode. */
  def userSessions(events: DataFrame): DataFrame =
    events
      .groupBy(session_window(col("ts"), "30 minutes").as("w"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"),
        date_format(col("w.start"), "yyyy-MM-dd HH:mm:ss").as("session_start"),
        col("n_events"))

  /** Streaming exact dedup on a fingerprint column within the watermark
    * horizon: equal fingerprints at DIFFERENT timestamps dedup too
    * (`dropDuplicatesWithinWatermark`, not `dropDuplicates(fp, ts)`);
    * the watermark bounds the per-key state, which is what makes this
    * viable on an unbounded stream. */
  def dedupStream(events: DataFrame, fingerprintCol: String): DataFrame =
    events.withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark(fingerprintCol)

  /** Per-key novelty counter state for [[noveltyStream]]: the max event
    * time ever seen (late rows must never move the TTL backwards) and
    * the occurrence count. */
  case class KeyStats(lastSeenMs: Long, n: Long)
  case class Novelty(key: String, isNew: Boolean, nSeen: Long)

  /** Custom keyed state via `flatMapGroupsWithState`: emits, for every
    * incoming (key, eventTimeMs) record, whether the key is novel and
    * how often it has been seen; state expires `ttlMs` of EVENT time
    * after the key's last record (EventTimeTimeout + watermark — a
    * processing-time timeout would keep an availableNow replay spinning
    * empty micro-batches forever waiting for wall-clock timeouts).
    * This is the arbitrary-state primitive the built-in window/dedup
    * operators can't express — e.g. "tag the first occurrence of each
    * document fingerprint in a 100 TB/day stream, forget keys after a
    * TTL so state stays bounded." */
  def noveltyStream(keyed: Dataset[(String, Long)],
                    ttlMs: Long = 3600000L): Dataset[Novelty] = {
    import keyed.sparkSession.implicits._
    // the watermark column must survive into the grouped relation
    val watermarked = keyed.toDF("key", "ts_ms")
      .withColumn("ts", timestamp_millis(col("ts_ms")))
      .withWatermark("ts", s"$ttlMs milliseconds")
      .as[(String, Long, java.sql.Timestamp)]
    watermarked.groupByKey(_._1)
      .flatMapGroupsWithState[KeyStats, Novelty](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        case (key, rows, state: GroupState[KeyStats]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            // single O(n) pass: only max event time and count matter
            var maxTs = Long.MinValue
            var count = 0L
            rows.foreach { r => if (r._2 > maxTs) maxTs = r._2; count += 1 }
            val prior = state.getOption
            val before = prior.map(_.n).getOrElse(0L)
            val out = (1L to count).map(i =>
              Novelty(key, prior.isEmpty && i == 1, before + i))
            val lastSeen = math.max(prior.map(_.lastSeenMs).getOrElse(Long.MinValue), maxTs)
            state.update(KeyStats(lastSeen, before + count))
            // clamp: Spark rejects timeouts at or below the CURRENT
            // eviction watermark (a late-but-accepted row could otherwise
            // compute one in the past and kill the whole query)
            state.setTimeoutTimestamp(
              math.max(lastSeen + ttlMs, state.getCurrentWatermarkMs() + 1))
            out.iterator
          }
      }
  }

  /** Micro-batch geocode stream (reference §2.8 extension target): each
    * batch of (`qid`, `text`) rows runs through the distributed
    * [[graft.query.GeocodeJoin]] — the full scoring pipeline per
    * micro-batch via `foreachBatch`, results delivered to `sink`. */
  def geocodeStream(queryStream: DataFrame, poiView: DataFrame,
                    settings: graft.core.Settings, k: Int)(
      sink: (Long, DataFrame) => Unit): org.apache.spark.sql.streaming.StreamingQuery =
    queryStream.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        sink(batchId, graft.query.GeocodeJoin.topK(batch, poiView, settings, k))
        ()
      }
      .trigger(Trigger.AvailableNow())
      .start()

  /** Stream-stream interval join (attribution): each `view` row joins
    * the SAME user's `purchase` rows landing within `[view_ts, view_ts +
    * maxDelay]`. Both sides carry watermarks and the join condition
    * bounds event time in both directions, so Spark derives a state
    * eviction horizon for each side — per-key join state stays bounded
    * on an unbounded stream, which is what separates this from a batch
    * join wearing a trenchcoat. Inner join ⇒ matches emit as soon as
    * both rows have arrived (no watermark wait in an availableNow
    * replay).
    *
    * Column contract: views(user_id, view_id, view_ts),
    * purchases(buy_user_id, purchase_id, buy_ts). */
  def attributionJoin(views: DataFrame, purchases: DataFrame,
                      maxDelay: String, watermark: String,
                      keepEventTime: Boolean = false): DataFrame = {
    val joined = views.withWatermark("view_ts", watermark)
      .join(purchases.withWatermark("buy_ts", watermark),
        col("user_id") === col("buy_user_id") &&
          col("buy_ts") >= col("view_ts") &&
          col("buy_ts") <= col("view_ts") + expr(s"INTERVAL $maxDelay"))
    val base = Seq(col("user_id"), col("view_id"), col("purchase_id"),
      (unix_micros(col("buy_ts")) - unix_micros(col("view_ts"))).as("delay_us"))
    // keepEventTime retains the purchase-side event time (and its
    // watermark) so a DOWNSTREAM stateful operator — e.g. a windowed
    // aggregate over attributed purchases — can chain onto the join in
    // the same streaming query (multiple stateful operators, Spark 4)
    joined.select((if (keepEventTime) base :+ col("buy_ts") else base): _*)
  }

  /** The exact-dedup operator as a CONTINUOUS pipeline: the same
    * fingerprint groups as [[graft.ext.Dedup.exactGroups]] (md5 of the
    * canonical text → min-id keeper + count), maintained incrementally
    * in the state store as documents arrive. min/count are
    * arrival-order-independent, so the drained stream result equals the
    * batch operator bit-for-bit — one definition serves ingest-time and
    * batch dedup. State is one row per DISTINCT fingerprint (no
    * watermark needed: fingerprint state is the dedup index itself and
    * lives forever by design; cap it upstream by date-partitioning the
    * corpus if unbounded growth matters). */
  def streamingExactDedup(docs: DataFrame, idCol: String,
                          textCol: String): DataFrame =
    docs.groupBy(graft.ext.TextAnalysis.fingerprint(col(textCol)).as("fp"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_docs"))

  /** Per-row MinHash band keys for a document stream — the crawl-time
    * near-dup PREFILTER front-end. Unlike the batch
    * [[graft.ext.Dedup.minhashSignature]] (a groupBy-min), the
    * signature here is computed per ROW with array higher-order
    * functions (the token multiset is already in hand as an array, so
    * `array_min` over the affine-hashed tokens IS the minhash) — a
    * NARROW projection with no stateful aggregate, which keeps the
    * stream side append-friendly and shuffle-free until the
    * stream-static bucket join. Bit-parity with the batch signature is
    * oracle-pinned (same portable md5 token hash, same affine family).
    *
    * Output: (id, band, bucket) via [[graft.ext.MinHashIndex.bands]] —
    * join it against a stored index's `buckets` table to flag incoming
    * docs that collide with the corpus before heavy processing. */
  def nearDupBands(docs: DataFrame, idCol: String, textCol: String,
                   numHashes: Int, rowsPerBand: Int): DataFrame = {
    import graft.ext.Dedup
    val toks = filter(
      split(graft.core.Norm.canon(col(textCol)), " "), t => t =!= "")
    // project the token array to an attribute FIRST: inlining it would
    // re-run the canon regex chain once per minhash column
    val withToks = docs
      .select(col(idCol).cast("long").as("id"), toks.as("toks"))
      .filter(size(col("toks")) > 0)
    val ms = (0 until numHashes).map { i =>
      array_min(transform(col("toks"), t =>
        (Dedup.tokenHash(t) * Dedup.minhashA(i) + Dedup.minhashB(i))
          % Dedup.MinhashPrime)).as(s"m$i")
    }
    graft.ext.MinHashIndex.bands(
      withToks.select(col("id") +: ms: _*), numHashes, rowsPerBand)
  }

  /** The crawl loop as ONE LONG-LIVED streaming query: incoming
    * documents flow through the per-row [[nearDupBands]] signature
    * (planned ONCE, at query start), and every micro-batch's bands join
    * a FRESH read of the stored bucket table — `bucketsNow` runs inside
    * `foreachBatch`, so an index shard appended BETWEEN micro-batches is
    * visible to the next batch without restarting the query. This is
    * the deployment shape that amortizes the per-lifecycle floor the
    * one-shot drains pay (planning + state-store init + checkpoint
    * setup land once per QUERY here, not once per generation); the
    * bounded-replay queries keep their per-generation drains because
    * their subject is the drain itself.
    *
    * `sink` receives each batch's (batchId, hits) with hits =
    * (doc_id, n_hits) — the count of (band, stored-doc) bucket
    * collisions that would route the doc to exact verification. The
    * caller drives generations: `addData` (or produce to the real
    * source), `processAllAvailable`, append/refresh the index, repeat;
    * `stop()` when the crawl ends. A real ingest loop passes its
    * durable `checkpoint`; bounded bench/spec drives of this shape pass
    * a volatile one (their recovery story is "rerun"). */
  def nearDupLoop(docs: DataFrame, idCol: String, textCol: String,
                  numHashes: Int, rowsPerBand: Int,
                  checkpoint: Option[String] = None)(
      bucketsNow: () => DataFrame)(
      sink: (Long, DataFrame) => Unit): org.apache.spark.sql.streaming.StreamingQuery = {
    val w = nearDupBands(docs, idCol, textCol, numHashes, rowsPerBand)
      .writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val hits = batch
          .join(bucketsNow().select(col("band"), col("bucket")), Seq("band", "bucket"))
          .groupBy(col("id").as("doc_id"))
          .agg(count(lit(1)).as("n_hits"))
        sink(batchId, hits)
        ()
      }
    checkpoint.fold(w)(w.option("checkpointLocation", _)).start()
  }

  /** The text-retrieval crawl loop as ONE LONG-LIVED streaming query —
    * [[nearDupLoop]]'s amortization applied to the BM25 index: each
    * micro-batch of (doc_id, text) documents lands in the persisted
    * index via [[graft.ext.TextIndex.append]] (one marker-committed
    * shard per batch), and the SAME batch then serves `terms` top-k
    * THROUGH the committed-shard reader — the as-of-this-batch ranking
    * handed to `sink(batchId, topK)`. Planning + checkpoint setup are
    * paid once per crawl instead of once per generation
    * (st_bm25_refresh's fresh-drain shape), and serve-side freshness
    * needs no restart or pointer flip: every serve re-lists commit
    * markers ([[graft.ext.IndexIO.liveCommittedIds]] — the text index's
    * native read path is already the `buckets()` treatment, pruning to
    * committed shards and subtracting tombstone mass). Checkpoint
    * contract as [[nearDupLoop]]: real ingest passes a durable
    * location; bounded drives pass a volatile one. */
  def bm25Loop(docs: DataFrame, idxPath: String, terms: Seq[String],
               k: Int, k1: Double, b: Double, partitions: Int = 1,
               checkpoint: Option[String] = None)(
      sink: (Long, DataFrame) => Unit): org.apache.spark.sql.streaming.StreamingQuery = {
    // exactly-once ingest under at-least-once foreachBatch: tag each
    // append with (checkpoint identity, batchId) so a batch re-delivered
    // after a crash-restart is an idempotent skip in
    // [[graft.ext.TextIndex.append]] — batchId alone would collide
    // across runs (a fresh checkpoint restarts batch ids at 0 against
    // the same index), so the tag carries the checkpoint's identity,
    // which is exactly the thing that persists across a restart. With
    // no checkpoint there is nothing to resume and the contract is
    // "rerun", so appends stay untagged.
    val ckptTag = checkpoint.map(checkpointTag)
    val w = docs.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        graft.ext.TextIndex.append(batch.select("doc_id", "text"), idxPath,
          partitions = partitions,
          batchTag = ckptTag.map(t => s"ckpt-$t:b$batchId").getOrElse(""))
        sink(batchId, graft.ext.TextIndex.bm25TopK(
          batch.sparkSession, idxPath, terms, k, k1, b))
        ()
      }
    checkpoint.fold(w)(w.option("checkpointLocation", _)).start()
  }

  /** A checkpoint location's RESTART IDENTITY, as a short digest — the
    * exactly-once tag ingredient shared by [[bm25Loop]] and
    * [[gazCdcLoop]]. The checkpoint path is exactly the thing that
    * persists across a crash-restart (batch ids alone restart at 0
    * against a fresh checkpoint and would wrongly dedup). */
  private def checkpointTag(c: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(c.getBytes("UTF-8"))
      .take(6).map(b0 => f"${b0 & 0xff}%02x").mkString

  /** The gazetteer CDC feed as ONE LONG-LIVED streaming query — the
    * production form of the [[graft.etl.GazetteerBuilder.refreshDelta]]
    * journey: each micro-batch of change rows (raw schema + `op`, the
    * [[graft.ext.Cdc.applyChanges]] contract) is applied as one new
    * snapshot version whose cost is proportional to that batch, behind
    * the same atomic CURRENT flip serving engines reload against.
    *
    * Exactly-once under at-least-once `foreachBatch`: each refresh
    * carries a (checkpoint-identity, batchId) transaction recorded in
    * the published manifest, so the micro-batch Spark re-delivers after
    * a crash-restart is an idempotent skip — decided from the manifest
    * under the writer lock, before the replayed feed is evaluated (zero
    * jobs, no junk version, no duplicate trigram shard per restart).
    * With no checkpoint there is nothing to resume and the contract is
    * "rerun", so refreshes stay untagged ([[bm25Loop]]'s contract).
    *
    * Empty micro-batches (triggers with no data) are skipped without a
    * refresh — a no-op version per heartbeat would grow the chain for
    * nothing. `sink` receives (batchId, version-path CONTAINING the
    * batch) once per micro-batch this query processes to completion —
    * normally the freshly published version; under an exotic
    * co-driver replay (a zombie sharing the checkpoint) it can be the
    * pre-existing version the locked re-check resolved, so treat sink
    * as at-least-once per publish, not exactly-once. Maintenance ([[graft.etl.GazetteerBuilder
    * .maintainSnapshots]]) stays the operator's periodic call, OUTSIDE
    * the loop: it serializes with refreshes on the root's writer lock —
    * and a micro-batch that lands while maintenance HOLDS that lock
    * retries with backoff for up to `lockWaitMs` instead of killing the
    * long-lived query (a CDC stream dying on every scheduled fold is an
    * operational bug, and "batch serializes behind maintenance" is the
    * semantics the lock already means). Past the budget the refresh
    * error propagates and the query dies loudly — a lock held that long
    * is a stuck maintainer, and the restart+replay path stays correct
    * either way because the batch's txn makes the replay exact. */
  def gazCdcLoop(changes: DataFrame, root: String,
                 checkpoint: Option[String] = None,
                 source: String = "cdc-stream",
                 lockWaitMs: Long = 10 * 60 * 1000L)(
      sink: (Long, String) => Unit): org.apache.spark.sql.streaming.StreamingQuery = {
    val ckptTag = checkpoint.map(checkpointTag)
    val txnTag = ckptTag.map(t => s"ckpt-$t")
    val w = changes.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // replay fast-path BEFORE the emptiness probe: an already-
        // applied batch (crash-restart re-delivery) must cost one
        // manifest read and ZERO Spark jobs — batch.isEmpty would
        // evaluate the re-read source. A stale frontier read only
        // falls through to refreshDelta's locked re-check.
        val replayed = txnTag.exists(tg =>
          graft.etl.GazetteerBuilder.appliedTxnFrontier(
            batch.sparkSession, root, tg).exists(_ >= batchId))
        if (!replayed && !batch.isEmpty) {
          val deadline = System.currentTimeMillis() + lockWaitMs
          var backoffMs = 250L
          var v: Option[String] = None
          while (v.isEmpty) {
            try v = Some(graft.etl.GazetteerBuilder.refreshDelta(
              batch.sparkSession, root, batch, source = source,
              txn = txnTag.map(tg => (tg, batchId))))
            catch {
              // TYPED busy signal (held lock, mid-break, lost races) —
              // anything else (corrupt manifest, format refusal) stays
              // loud and kills the query as it should
              case _: graft.ext.LockBusyException
                if System.currentTimeMillis() + backoffMs <= deadline =>
                Thread.sleep(backoffMs)
                backoffMs = math.min(backoffMs * 2, 5000L)
            }
          }
          sink(batchId, v.get)
        }
        ()
      }
    checkpoint.fold(w)(w.option("checkpointLocation", _)).start()
  }

  /** Volatile checkpoint root for ONE-SHOT drains: a RAM-backed tmpfs
    * dir when the platform has one (Linux `/dev/shm`), else None (Spark
    * then uses its normal temp-dir checkpoint). A drain's checkpoint +
    * state-store files are pure fixed cost — offset/commit WALs and
    * per-partition state snapshots fsynced once per micro-batch — whose
    * durability buys NOTHING: the recovery story for a bounded replay
    * is "rerun it", never "resume it". On this class of node the fsyncs
    * land on spinning/virtual ext4 and dominate the per-lifecycle
    * floor. LONG-LIVED streaming queries must NOT use this — their
    * checkpoint is their exactly-once contract; callers running a real
    * ingest loop pass their own durable checkpointLocation as usual. */
  private lazy val volatileRoot: Option[String] = {
    val shm = new java.io.File("/dev/shm")
    if (shm.isDirectory && shm.canWrite) {
      val d = new java.io.File(shm, "graft-replay-ckpt")
      d.mkdirs()
      if (d.isDirectory) Some(d.getAbsolutePath) else None
    } else None
  }

  /** A fresh checkpoint dir for one bounded drain — tmpfs-backed when
    * available. Pair with [[dropCheckpoint]] after the drain. LOCAL
    * MASTER ONLY: state stores are written by executors, and on a
    * multi-node master a driver-local /dev/shm path resolves to
    * different physical storage per node — state recovery between
    * micro-batches would read the wrong (or no) files. Non-local
    * sessions get None and Spark's normal checkpoint behavior. */
  def volatileCheckpointDir(spark: SparkSession): Option[String] =
    if (!spark.sparkContext.isLocal) None
    else volatileRoot.map(r => s"$r/${java.util.UUID.randomUUID().toString.take(12)}")

  /** Delete a drain's checkpoint dir (tmpfs is a shared bounded
    * resource; a bench process runs hundreds of drains). */
  def dropCheckpoint(dir: Option[String]): Unit =
    dir.foreach { d =>
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rm))
        f.delete(); ()
      }
      rm(new java.io.File(d))
    }

  /** Replay a bounded source through a streaming query into a memory
    * sink and return the materialized result. `Trigger.AvailableNow`
    * drains everything then stops — deterministic, oracle-checkable. */
  def replayToTable(spark: SparkSession, streamed: DataFrame,
                    name: String, outputMode: String): DataFrame = {
    // a COMPLETE-mode drain never benefits from the trailing NO-DATA
    // micro-batch: complete mode re-emits the whole aggregate state
    // every batch, so the extra batch re-runs the aggregate + sink
    // write for identical output — a full batch of fixed cost per
    // replay. APPEND mode is the opposite: watermark-gated operators
    // (windowed aggregates, dedup) only FLUSH closed groups when the
    // watermark advances, which for a drain IS the trailing no-data
    // batch — disabling it there silently drops the final results
    // (pinned by the chained-stateful StreamOpsSpec case).
    val noDataKey = "spark.sql.streaming.noDataMicroBatches.enabled"
    val prev = spark.conf.get(noDataKey)
    if (outputMode == "complete") spark.conf.set(noDataKey, "false")
    val ckpt = volatileCheckpointDir(spark)
    try {
      val w = streamed.writeStream
        .format("memory")
        .queryName(name)
        .outputMode(outputMode)
        .trigger(Trigger.AvailableNow())
      val q = ckpt.fold(w)(w.option("checkpointLocation", _)).start()
      q.awaitTermination()
      spark.table(name)
    } finally {
      spark.conf.set(noDataKey, prev)
      dropCheckpoint(ckpt)
    }
  }
}

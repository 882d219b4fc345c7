package graft.ext

import org.apache.spark.sql.SparkSession

/** Publish-by-rename for multi-table persisted indexes
  * ([[VectorIndex]], [[MinHashIndex]]). A naive per-table overwrite
  * publishes non-atomically: a failure (or concurrent reader) between
  * the two table writes pairs NEW table A with STALE table B —
  * silently wrong serving results rather than an error.
  *
  * The staging pattern here shrinks that to a fail-LOUD window: every
  * table is written under a fresh staging directory sibling to the
  * destination, then ONE directory rename publishes the whole index.
  * On a rename-atomic filesystem (file://, HDFS) a reader races only
  * the rename-aside→rename-in instant, where the path is briefly
  * absent and the read errors — it can never observe mixed tables —
  * and a crash inside that instant leaves the previous index intact
  * under a `dest-old-*` sibling for recovery. Concurrent WRITERS to
  * the same destination remain single-writer-by-contract (last rename
  * wins).
  *
  * OBJECT STORES (s3a:// and friends) are weaker: a directory "rename"
  * is a non-atomic copy+delete, so a concurrent reader can observe a
  * partially-copied index and a crash mid-copy leaves a partial
  * destination. The versioned-pointer layer below ([[publishVersioned]]
  * / [[resolveCurrent]]) closes that gap: each build lands in a fresh
  * `v{N}` directory that no reader looks at until a small CURRENT
  * pointer file names it — the flip is a single-file replace (atomic
  * rename here; a single-object PUT on a store), so a reader resolves
  * either the old complete version or the new complete version, never
  * a mix and never a partial copy. Old versions stay on disk until
  * [[pruneVersions]], which also makes rollback a pointer flip
  * ([[setCurrent]]) instead of a rebuild.
  */
private[ext] object IndexIO {

  /** TEST-ONLY kill-point hook, invoked before every PROTOCOL-LEVEL
    * filesystem mutation (staging publishes, marker renames, asides,
    * deletes, driver-side shard writes). The crash-injection fuzz
    * (`CrashFuzzSpec`) swaps in a countdown that throws at the K-th
    * call and sweeps K over every reachable point, proving
    * serve-equality or clean-reconcile after a crash anywhere in
    * append/compactSmall/publish. Production value is a no-op; the
    * indirection costs one volatile read per fs op, which protocol ops
    * pay next to an actual filesystem call. */
  @volatile private[ext] var crashHook: () => Unit = () => ()

  private[ext] def crashTick(): Unit = crashHook()

  /** TEST-ONLY interleaving hook, invoked at the top of [[commitShard]]
    * — the last rename of an append. The concurrency specs swap in a
    * one-shot that runs a maintenance op at exactly the
    * tables-published-but-uncommitted point, turning the append/maintain
    * race into a deterministic interleaving instead of a sleep-based
    * one. Production value is a no-op. */
  @volatile private[ext] var preCommitHook: () => Unit = () => ()

  /** Appender LEASE: a claimed-but-young shard id (last writer
    * timestamp within this bound) is treated by reconcile/gc as a LIVE
    * appender's in-flight work, never crash garbage — this is what lets
    * `maintain`/`compactSmall` run concurrently with appends. The
    * contract an appender signs: keep the claim fresh (the append paths
    * [[heartbeatClaim]] after their long table writes, so the lease
    * effectively bounds only the publish→commit window) or abandon and
    * re-append under a fresh id — an append whose claim goes stale can
    * have its uncommitted shards reclaimed mid-flight. Crash garbage is
    * reclaimed only after the lease expires (bounded disk debt, zero
    * data risk: readers never see uncommitted shards either way).
    *
    * CLOCK AUTHORITY (100 TB / object-store note): freshness compares
    * the APPENDER-written timestamp inside the claim ([[claimTs]] —
    * file CONTENT, not fs metadata, so stores with coarse or
    * rename-reset mtimes keep the contract; mtime is only the fallback
    * for legacy claims) against the MAINTAINER's local clock. The
    * protocol therefore assumes |writer clock − maintainer clock| ≪
    * appendLeaseMs; with the 15 min default, NTP-grade skew (ms–s) is
    * four orders of magnitude inside the bound. Deployments with worse
    * clocks must raise the lease accordingly (env/system property
    * `graft.append.lease.ms`, or [[IndexConfig.appendLeaseMs]]). */
  @volatile private[ext] var appendLeaseMs: Long =
    sys.props.get("graft.append.lease.ms").flatMap(_.toLongOption)
      .getOrElse(15L * 60L * 1000L)

  /** Last writer-reported timestamp of claim `k`: the newest of the HB
    * heartbeat file's content and the CLAIM file's timestamp line. The
    * claim dir's mtime is consulted ONLY when neither content timestamp
    * is readable (legacy claims written before round 12 carry none) —
    * never folded into the max alongside them: on stores that refresh
    * directory mtimes (or when a losing racer's rename deposits garbage
    * inside the dir), an mtime-in-the-max would make a genuinely stale
    * claim or lock look fresh for an extra lease period, delaying
    * reclaim/lock-break. Content is the clock authority; metadata is
    * the fallback of last resort. Throws FileNotFound when the claim
    * dir itself is gone. */
  private def claimTs(fs: org.apache.hadoop.fs.FileSystem,
                      claimDir: org.apache.hadoop.fs.Path): Long = {
    def contentTsAt(p: org.apache.hadoop.fs.Path, line: Int): Option[Long] =
      try readSmallFile(fs, p).split("\n").drop(line).headOption.flatMap(_.trim.toLongOption)
      catch { case _: java.io.IOException => None }
    val mtime = fs.getFileStatus(claimDir).getModificationTime // FNF → caller
    // Heartbeats: the FileContext path replaces `HB` atomically; the
    // no-binding fallback lands versioned `HB-*` files (new file first,
    // older pruned after — see [[writeHb]]). Max over everything
    // matching, so a reader never observes a heartbeat-less instant
    // mid-replace and falls back to the stale CLAIM acquisition line.
    def listHbs(): Seq[Long] = fs.listStatus(claimDir).toSeq
      .filter(_.getPath.getName.startsWith("HB"))
      .flatMap(st => contentTsAt(st.getPath, 0))
    // strict retry-once (the readLine1OrThrow doctrine): a transient
    // listing error must not read as "no heartbeats" — that would let
    // a breaker fall back to the stale CLAIM acquisition line and
    // judge a live, heartbeating maintainer stale. Persistent failure
    // degrades to the direct legacy `HB` read (the pre-listing path),
    // never to silence.
    val hbs =
      try listHbs()
      catch {
        case e: java.io.FileNotFoundException => throw e // dir gone → caller
        case _: java.io.IOException =>
          try listHbs()
          catch {
            case e: java.io.FileNotFoundException => throw e
            case _: java.io.IOException =>
              contentTsAt(new org.apache.hadoop.fs.Path(claimDir, "HB"), 0).toSeq
          }
      }
    val content = hbs ++ contentTsAt(
      new org.apache.hadoop.fs.Path(claimDir, "CLAIM"), 1)
    if (content.nonEmpty) content.max else mtime
  }

  /** Refresh the lease of claim `k` by writing a writer-clock timestamp
    * INSIDE the claim (an `HB` file, replaced atomically via the
    * [[setCurrent]] temp+rename primitive). The append paths call this
    * after their long table-write phase, immediately before the publish
    * renames — so an arbitrarily slow batch write succeeds as long as
    * the publish→commit tail fits the lease, instead of any append
    * slower than [[appendLeaseMs]] failing unconditionally at commit.
    * Fails loud when the claim is already gone (the append outlived an
    * UNrefreshed lease and a maintenance pass reclaimed it — re-append). */
  def heartbeatClaim(spark: SparkSession, root: String, k: Int): Unit = {
    if (appendLeaseMs <= 0L) return // eager-reclaim test mode: no lease to refresh
    val fs = fsOf(spark, root)
    val claimDir = new org.apache.hadoop.fs.Path(s"$root/claims/shard=$k")
    def gone() = throw new java.io.IOException(
      s"heartbeat: claim for $root shard=$k is gone (lease expired and " +
        "reclaimed?) — abandon this append and re-append under a fresh id")
    if (!fs.exists(claimDir)) gone()
    writeHb(spark, claimDir)
    // un-resurrect: if the claim was reclaimed between the exists check
    // and the HB create, the create re-materialized a CLAIM-less dir
    // whose fresh HB would read as a live lease for appendLeaseMs.
    // A real claim always carries CLAIM (staged before publish), so a
    // missing CLAIM is provably our own resurrection — remove it and
    // fail loud like the missing-dir case.
    if (!fs.exists(new org.apache.hadoop.fs.Path(claimDir, "CLAIM"))) {
      fs.delete(claimDir, true)
      gone()
    }
  }

  /** Atomic heartbeat write into `dir`: a writer-clock timestamp staged
    * to a temp file and renamed over `HB` (FileContext OVERWRITE — the
    * one atomic-replace primitive in the Hadoop FS API). Shared by the
    * appender-claim and maintenance-lock heartbeats so the two lease
    * clocks cannot drift in implementation. */
  private def writeHb(spark: SparkSession,
                      dir: org.apache.hadoop.fs.Path): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = dir.getFileSystem(conf)
    val tmp = new org.apache.hadoop.fs.Path(dir,
      s"_hb-${java.util.UUID.randomUUID().toString.take(8)}")
    val out = fs.create(tmp, true)
    try out.writeBytes(s"${System.currentTimeMillis()}\n") finally out.close()
    val hb = new org.apache.hadoop.fs.Path(dir, "HB")
    try {
      val fc = org.apache.hadoop.fs.FileContext.getFileContext(tmp.toUri, conf)
      fc.rename(tmp, hb, org.apache.hadoop.fs.Options.Rename.OVERWRITE)
    } catch {
      // scheme without an AbstractFileSystem binding: no atomic replace
      // available, so land the fresh timestamp under a VERSIONED name
      // first (dest never exists — plain rename suffices) and prune the
      // older heartbeat files after. [[claimTs]] maxes over all HB*
      // contents, so a readable heartbeat exists at every instant of
      // the replace — the old delete+rename left a gap where a racing
      // breaker saw only the stale CLAIM acquisition timestamp and
      // could judge a LIVE maintainer stale, break its lock, and pass
      // the nonce re-verify (CLAIM itself never moved).
      case _: org.apache.hadoop.fs.UnsupportedFileSystemException =>
        val versioned = new org.apache.hadoop.fs.Path(dir,
          s"HB-${java.util.UUID.randomUUID().toString.take(8)}")
        if (!fs.rename(tmp, versioned))
          throw new java.io.IOException(s"heartbeat publish failed for $versioned")
        // single-writer per claim dir, so everything else is older. KEEP
        // the newest old heartbeat besides the fresh one: a reader that
        // snapshotted the listing just before this publish must still
        // be able to READ what it listed — pruning the predecessor
        // immediately would re-open (narrowed to a list-then-read
        // window) the exact heartbeat-less gap this fallback closes.
        // The kept file dies at the NEXT heartbeat, so a reader only
        // loses its snapshot by straddling two full heartbeat periods.
        // A crash mid-prune just leaves extra HB* files (max still right).
        try {
          val others = fs.listStatus(dir).filter { st =>
            val n = st.getPath.getName
            n.startsWith("HB") && n != versioned.getName
          }
          others.sortBy(-_.getModificationTime).drop(1).foreach { st =>
            try fs.delete(st.getPath, false)
            catch { case _: java.io.IOException => () }
          }
        } catch { case _: java.io.IOException => () }
    }
  }

  /** First (trimmed) line of a small text file; None on any IO failure.
    * The single reader for claim/lock nonces ([[claimShardId]]'s
    * publish verify, [[holdsMaintLock]], the breaker's identity check)
    * — independent copies of the read/split/compare pattern drift. */
  private def readLine1(fs: org.apache.hadoop.fs.FileSystem,
                        p: org.apache.hadoop.fs.Path): Option[String] =
    try Some(readLine1Raw(fs, p))
    catch { case _: java.io.IOException => None }

  /** [[readLine1]] that DISTINGUISHES absence from unreadability: None
    * only on FileNotFound (the file provably does not exist); any other
    * IOException is retried once and then propagated. The lock BREAKER
    * needs the distinction — a CLAIM that is merely unreadable
    * (transient store error) must not be treated like a CLAIM-less
    * shell, or the breaker would rename a LIVE maintainer's lock aside,
    * compare None == None, and delete it: the commit-time nonce check
    * still prevents the double fold, but the live maintainer's entire
    * fold is silently wasted work. */
  private def readLine1OrThrow(fs: org.apache.hadoop.fs.FileSystem,
                               p: org.apache.hadoop.fs.Path): Option[String] =
    try Some(readLine1Raw(fs, p))
    catch {
      case _: java.io.FileNotFoundException => None
      case _: java.io.IOException =>
        try Some(readLine1Raw(fs, p))
        catch { case _: java.io.FileNotFoundException => None }
    }

  private def readLine1Raw(fs: org.apache.hadoop.fs.FileSystem,
                           p: org.apache.hadoop.fs.Path): String =
    readSmallFile(fs, p).split("\n").headOption.map(_.trim).getOrElse("")

  /** The whole content of a small protocol file (markers, claims,
    * pointers, high-marks) as UTF-8 — the one reader every such file
    * goes through. Throws FileNotFound when the file is absent; callers
    * keep their own absence and retry rules. */
  private[ext] def readSmallFile(fs: org.apache.hadoop.fs.FileSystem,
                                 p: org.apache.hadoop.fs.Path): String = {
    val buf = new Array[Byte](fs.getFileStatus(p).getLen.toInt)
    val in = fs.open(p)
    try in.readFully(0, buf) finally in.close()
    new String(buf, java.nio.charset.StandardCharsets.UTF_8)
  }

  /** The shard ids compaction marker `k` replaces — its REPLACES file,
    * empty for an append marker. FileNotFound propagates when the marker
    * vanishes between the check and the read. */
  private[ext] def replacesOf(fs: org.apache.hadoop.fs.FileSystem, root: String,
                               k: Int): Set[Int] = {
    val rp = new org.apache.hadoop.fs.Path(s"$root/commits/shard=$k/REPLACES")
    if (!fs.exists(rp)) Set.empty
    else readSmallFile(fs, rp).split("\\s+").filter(_.nonEmpty).map(_.toInt).toSet
  }

  /** Shard ids under an active appender lease: claimed recently (last
    * writer timestamp within [[appendLeaseMs]] — see [[claimTs]]) with
    * no commit marker YET at this call's own commits listing. The
    * commits listing here is taken BEFORE the claims listing, and
    * callers take their `live` listing AFTER calling this — so an id
    * whose marker lands anywhere in between is either still
    * lease-protected (young claim, marker unseen here) or already
    * visible as live to the caller; no interleaving leaves a committed
    * shard unprotected. Claims accumulate one per append for the
    * index's lifetime, so the freshness probe runs only on the claims
    * MINUS committed remainder (in-flight appenders + crash garbage — a
    * handful), not on history. */
  def leasedIds(spark: SparkSession, root: String): Set[Int] = {
    val committed = shardIds(spark, s"$root/commits").toSet
    val claims = shardIds(spark, s"$root/claims").filterNot(committed)
    if (claims.isEmpty) return Set.empty
    val fs = fsOf(spark, root)
    val now = System.currentTimeMillis()
    claims.filter { k =>
      try now - claimTs(fs,
        new org.apache.hadoop.fs.Path(s"$root/claims/shard=$k")) < appendLeaseMs
      catch { case _: java.io.FileNotFoundException => false }
    }.toSet
  }

  /** Staging path: sibling of `dest` so the rename stays within one
    * filesystem. */
  def stagingFor(dest: String): String =
    s"$dest-staging-${java.util.UUID.randomUUID().toString.take(8)}"

  private[ext] def fsOf(spark: SparkSession, path: String) =
    new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** FileContext for `p` — the API surface that carries the two atomic
    * rename primitives (Rename.NONE dest-must-not-exist, Rename.OVERWRITE
    * replace) the FileSystem API lacks. */
  private def fcOf(spark: SparkSession, p: org.apache.hadoop.fs.Path) =
    org.apache.hadoop.fs.FileContext.getFileContext(p.toUri,
      spark.sparkContext.hadoopConfiguration)

  /** Shard ids present under a shard-partitioned table root (`shard=N`
    * subdirectories, Hive partition-dir naming so a plain
    * `spark.read.parquet(root)` discovers them). Driver-side directory
    * listing — one RPC, never a data read. */
  def shardIds(spark: SparkSession, tableRoot: String): Seq[Int] = {
    val root = new org.apache.hadoop.fs.Path(tableRoot)
    val fs = fsOf(spark, tableRoot)
    if (!fs.exists(root)) Seq.empty
    else fs.listStatus(root).toSeq
      .filter(_.isDirectory)
      .map(_.getPath.getName)
      .collect { case s if s.startsWith("shard=") => s.stripPrefix("shard=").toInt }
      .sorted
  }

  /** True when `tableRoot` holds non-hidden regular FILES — the
    * pre-shard flat layout. Publishing a `shard=N` directory next to
    * flat part-files would leave the table unreadable (Spark rejects
    * leaf files at two depths as conflicting partition structures), so
    * appends must refuse and route the caller through a migrating
    * `compact()` (which reads either layout and republishes sharded). */
  def hasFlatFiles(spark: SparkSession, tableRoot: String): Boolean = {
    val root = new org.apache.hadoop.fs.Path(tableRoot)
    val fs = fsOf(spark, tableRoot)
    fs.exists(root) && fs.listStatus(root).exists { s =>
      val n = s.getPath.getName
      s.isFile && !n.startsWith("_") && !n.startsWith(".")
    }
  }

  /** Recursive delete (shard-reconcile helper). Missing path is a
    * no-op; a failed delete throws — leaving a half-reconciled index
    * silent would defeat the repair. */
  def deleteDir(spark: SparkSession, path: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = fsOf(spark, path)
    crashTick()
    // a false return re-checks existence: with appends and maintenance
    // running concurrently (round 11), two writers can legitimately
    // race to delete the same garbage dir (e.g. append's
    // committed-but-incomplete repair vs a fold's post-commit cleanup)
    // — the loser's delete "fails" because the dir is already gone,
    // which is success, not an error
    if (fs.exists(p) && !fs.delete(p, true) && fs.exists(p))
      throw new java.io.IOException(s"delete $path failed")
    // Schema-memo hygiene (round-17 advice): the memo's footer source
    // ([[firstDataFile]]) prefers the NEWEST shard — which may be a
    // published-but-uncommitted orphan from a crashed evolved append.
    // If a reconcile then deletes that orphan, a cached schema would
    // keep its phantom column and wedge later appends on this JVM
    // (storedMetaCols requiring a column no committed shard carries).
    // Every reconcile/fold path funnels through this delete, so drop
    // the memo for the owning index whenever a shard dir goes away —
    // the next read re-reads one footer driver-side, the memo's
    // ordinary cold cost.
    if (p.getName.startsWith("shard=")) {
      val table = p.getParent
      if (table != null && table.getParent != null)
        invalidateSchemasUnder(table.getParent.toString)
      // the memo key is the caller's root STRING, which may differ from
      // the Path's normalized form (e.g. a relative or file:-prefixed
      // root) — invalidate by the raw string's grandparent too
      val idx = path.lastIndexOf("/shard=")
      if (idx > 0) {
        val tIdx = path.lastIndexOf('/', idx - 1)
        if (tIdx > 0) invalidateSchemasUnder(path.substring(0, tIdx))
      }
    }
  }

  /** Hidden staging dir for a single-shard append: lives UNDER the
    * table root (same filesystem, one rename away) but starts with
    * `_`, which Spark's file listing skips — a crash mid-write leaves
    * invisible garbage, never a partial shard in query results. */
  def shardStagingFor(tableRoot: String): String =
    s"$tableRoot/_shard-staging-${java.util.UUID.randomUUID().toString.take(8)}"

  /** One-column INT64 parquet shard written DRIVER-SIDE (the
    * [[graft.ext.TextIndex]] stats-shard treatment applied to tombstone
    * lists): takedown batches are id lists, tiny next to the corpus, so
    * launching a distinct+shuffle+write Spark job to persist a few KB
    * was a fixed scheduling cost on every delete. The layout is a
    * normal one-file parquet dir — `spark.read.parquet` and the shard
    * protocol read it exactly like a Spark write. */
  def writeIdShard(spark: SparkSession, dir: String, colName: String,
                   ids: Array[Long]): Unit = {
    crashTick()
    DriverParquet.writeGroups(spark, dir, s"message ids { required int64 $colName; }") {
      (schema, w) =>
        ids.foreach { id =>
          val g = new org.apache.parquet.example.data.simple.SimpleGroup(schema)
          g.add(colName, id)
          w.write(g)
        }
    }
  }

  /** Driver-side read of the tombstone shards under `root/deletes/` —
    * the serving-path counterpart of [[writeIdShard]]: takedown lists
    * are tiny next to the corpus, so the probe can hold them as request
    * literals instead of paying a Spark read + broadcast anti-join
    * build per query. Returns `Some(distinct ids)` when the total stays
    * ≤ `maxIds` (empty array = no tombstones), `None` when the set is
    * too big for the literal route — callers then fall back to the
    * distributed anti-join, which is the right plan at that size. */
  def readIdShards(spark: SparkSession, root: String, colName: String,
                   maxIds: Int = 4096): Option[Array[Long]] =
    readIdShardsListed(spark, root, colName, maxIds).map(_._2)

  /** [[readIdShards]] plus the shard-id LISTING the read was taken
    * from. Callers that key a cache on the delete-shard state (e.g.
    * TextIndex's removedMassCache) must derive the key and the ids from
    * ONE listing — re-listing for the key lets a delete landing between
    * the two listings cache the old tombstone set's mass under the new
    * state's key (a TOCTOU the round-16 advice flagged). */
  def readIdShardsListed(spark: SparkSession, root: String, colName: String,
                         maxIds: Int = 4096): Option[(Seq[Int], Array[Long])] = {
    // a shard dir can legitimately vanish mid-read: the fold-all
    // compaction clears applied tombstone shards while serving runs
    // (round-11 concurrency). Retry from a FRESH listing — the second
    // pass sees the post-clear state (the racing serve's own stale
    // table scan fails independently if it raced the fold, so this
    // cannot silently mix pre-fold shards with post-fold tombstones).
    var attempts = 0
    while (true) {
      try return readIdShardsOnce(spark, root, colName, maxIds)
      catch {
        case _: java.io.FileNotFoundException if attempts < 3 => attempts += 1
      }
    }
    None // unreachable
  }

  private def readIdShardsOnce(spark: SparkSession, root: String,
                               colName: String,
                               maxIds: Int): Option[(Seq[Int], Array[Long])] = {
    val ids = shardIds(spark, root)
    if (ids.isEmpty) return Some((ids, Array.empty))
    val conf = spark.sparkContext.hadoopConfiguration
    val out = new java.util.HashSet[java.lang.Long]()
    for (k <- ids) {
      val dir = new org.apache.hadoop.fs.Path(s"$root/shard=$k")
      val fs = dir.getFileSystem(conf)
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
            out.add(g.getLong(colName, 0))
            if (out.size > maxIds) return None
            g = r.read()
          }
        } finally r.close()
      }
    }
    val arr = Array.ofDim[Long](out.size)
    val it = out.iterator()
    var i = 0
    while (it.hasNext) { arr(i) = it.next().longValue(); i += 1 }
    Some((ids, arr))
  }

  /** Stage + publish a tombstone id shard under `root/deletes/`:
    * distinct ids collected with a `maxDriverIds` bound — under it, the
    * shard writes driver-side ([[writeIdShard]], no second Spark job);
    * over it (a takedown the size of a corpus slice), the original
    * distributed write runs instead. Returns the published shard id. */
  def publishIdShard(ids: org.apache.spark.sql.DataFrame, root: String,
                     colName: String, maxDriverIds: Int = 1 << 20): Int = {
    val spark = ids.sparkSession
    // Tombstones are shard-protocol mutations like any other: a delete
    // issued by this binary against a future-format index would "succeed"
    // while the newer engine ignores or misreads the shard — the exact
    // corruption the format gate exists to refuse. Append paths are gated
    // in claimShardId; this is the one mutation entry that doesn't claim.
    requireSupportedFormat(spark, root)
    val next = shardIds(spark, s"$root/deletes").lastOption.getOrElse(-1) + 1
    val staging = shardStagingFor(s"$root/deletes")
    // normalize to INT64 up front: the driver-side writer emits a
    // required-int64 shard and readIdShards does getLong, so an
    // int-typed caller column must be widened here, not at read time
    val longIds = ids.select(
      org.apache.spark.sql.functions.col(colName).cast("long").as(colName))
    // probe on RAW rows (one limit-collect job, deduped driver-side) —
    // the former `.distinct().limit(...)` paid a whole shuffle (two AQE
    // jobs) to bound what is usually a few hundred ids. A batch whose
    // raw rows exceed the bound but whose distinct ids would not takes
    // the distributed route — same shard layout, just written by Spark
    val probe = longIds.limit(maxDriverIds + 1).collect()
    if (probe.length <= maxDriverIds)
      writeIdShard(spark, staging, colName,
        probe.map(_.getLong(0)).distinct.sorted)
    else
      longIds.distinct()
        .coalesce(1) // tombstone batches are id lists — tiny next to the corpus
        .write.mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(staging)
    publishShard(spark, staging, s"$root/deletes/shard=$next")
    next
  }

  /** Publish one NEW shard: a single rename of the hidden staging dir
    * to `root/shard=N`. The destination must not exist (appends only
    * ever add shards; rewriting history is [[publish]]'s job via a
    * full-index staging). On a rename-atomic filesystem a reader sees
    * the shard fully or not at all — there is no aside/restore dance
    * because nothing pre-existing is touched. */
  def publishShard(spark: SparkSession, staging: String, destShard: String): Unit = {
    val fs = fsOf(spark, destShard)
    val dest = new org.apache.hadoop.fs.Path(destShard)
    if (fs.exists(dest))
      throw new java.io.IOException(s"shard publish: $destShard already exists")
    crashTick()
    if (!fs.rename(new org.apache.hadoop.fs.Path(staging), dest))
      throw new java.io.IOException(s"shard publish rename $staging -> $destShard failed")
  }

  /** Publish the commit marker for shard `k` of the index at `root` —
    * the LAST rename of a transactional multi-table append; its arrival
    * is what makes the shard visible to marker-aware readers
    * ([[committedIds]]). One tiny marker file per shard — the
    * manifest-pointer design object-store table formats use, scoped to
    * one marker per shard. Shared by all four persisted index families
    * ([[ShardedIndex]]).
    *
    * `replaces` non-empty makes this a COMPACTION marker: the named
    * shard ids are superseded by `k` — [[liveCommittedIds]] subtracts
    * them the instant this marker lands, which is what makes an
    * incremental compaction's swap (one new folded shard in, several
    * old shards out) a single atomic rename instead of a
    * one-in-then-each-out sequence a reader could observe doubled. */
  def commitShard(spark: SparkSession, root: String, k: Int,
                  replaces: Seq[Int] = Nil,
                  enforceLease: Boolean = false,
                  verifyTables: Seq[String] = Nil,
                  maintLockNonce: String = "",
                  tags: Seq[String] = Nil): Unit = {
    preCommitHook()
    // APPEND commits (enforceLease=true) verify their lease before the
    // marker rename: an append that outran appendLeaseMs may have had
    // its uncommitted table shards reconciled away by a concurrent
    // maintenance pass — landing the marker anyway would return success
    // for a batch that silently never serves (the next repair deletes
    // the tableless marker). Fail LOUD instead: the caller re-appends
    // under a fresh id. A missing claim means the same thing (an
    // expired claim is garbage-collectable). The freshness bar keeps a
    // GRACE margin (a quarter of the lease) in hand: the check-to-rename
    // span must fit inside the remaining lease, or a reconcile whose
    // listings straddle the rename could reclaim the tables after this
    // check passed (the round-11 TOCTOU) — with ≥25% of the lease
    // remaining, any reconcile that lists claims inside that span still
    // sees a live lease and skips the shard. Lease 0 = eager-reclaim
    // test mode, no enforcement; maintenance commits (REPLACES) are
    // serialized by the maintenance lock ([[acquireMaintLock]]) and
    // verify OWNERSHIP instead (maintLockNonce below).
    if (enforceLease && appendLeaseMs > 0L) {
      val fs = fsOf(spark, root)
      val claim = new org.apache.hadoop.fs.Path(s"$root/claims/shard=$k")
      val remaining =
        try appendLeaseMs - (System.currentTimeMillis() - claimTs(fs, claim))
        catch { case _: java.io.FileNotFoundException => Long.MinValue }
      if (remaining < appendLeaseMs / 4)
        throw new java.io.IOException(
          s"append lease expired (or under ${appendLeaseMs / 4} ms grace) " +
            s"before commit of $root shard=$k (bound ${appendLeaseMs} ms): " +
            "a concurrent maintenance pass may have reclaimed the " +
            "uncommitted shards — re-append the batch")
    }
    // MAINTENANCE commits (a caller-held lock nonce): re-verify lock
    // ownership immediately before the marker rename. A maintainer that
    // overran maintLockMs without a fresh heartbeat may have had its
    // lock broken and a successor's fold started — landing this
    // REPLACES marker anyway is the double-fold the lock exists to
    // prevent. The staged-but-unmarked fold shard it abandons is
    // ordinary crash garbage for reconcile/gcStaging.
    if (maintLockNonce.nonEmpty && maintLockMs > 0L &&
        !holdsMaintLock(fsOf(spark, root),
          new org.apache.hadoop.fs.Path(s"$root/maintlock"), maintLockNonce))
      throw new java.io.IOException(
        s"maintenance lock on $root lost before the fold commit of " +
          s"shard=$k (overran $maintLockMs ms without heartbeating?) — " +
          "abandoning the fold; re-run maintain()")
    // markers are pure DIRECTORY facts — every consumer is a listing
    // ([[committedIds]]; compaction markers add one small REPLACES file
    // read) — so the publish is driver-side filesystem I/O, not a Spark
    // job (the marker job was a measurable fixed cost on every append
    // when the indexed batch itself is small). Same staged-rename
    // protocol as a data shard: write under a hidden staging dir, one
    // atomic rename.
    val fs = fsOf(spark, root)
    val staging = new org.apache.hadoop.fs.Path(shardStagingFor(s"$root/commits"))
    crashTick()
    fs.mkdirs(staging)
    val f = fs.create(new org.apache.hadoop.fs.Path(staging, "MARKER"), false)
    try f.writeBytes(s"$k\n") finally f.close()
    if (replaces.nonEmpty) {
      val rf = fs.create(new org.apache.hadoop.fs.Path(staging, "REPLACES"), false)
      try rf.writeBytes(replaces.sorted.mkString("\n") + "\n") finally rf.close()
    }
    // idempotency TAGS (exactly-once streaming ingest, VERDICT r14
    // task 1): an append tags its marker with the caller's batch
    // identity; a compaction unions the tags of the shards it folds.
    // [[committedTags]] is the replay guard — an at-least-once retry
    // (foreachBatch re-delivery after a crash between the marker rename
    // and the checkpoint commit) sees its tag already live and SKIPS,
    // closing the double-append window the commit protocol alone
    // cannot see. Tags ride the marker rename, so tag visibility is
    // exactly commit visibility — no second race.
    if (tags.nonEmpty) {
      val tf = fs.create(new org.apache.hadoop.fs.Path(staging, "TAGS"), false)
      try tf.writeBytes(tags.distinct.sorted.mkString("\n") + "\n") finally tf.close()
    }
    publishShard(spark, staging.toString, s"$root/commits/shard=$k")
    // POST-commit verify (enforceLease appends): if the lease expired
    // in the check-to-rename window and a concurrent reconcile
    // reclaimed the uncommitted table shards before the marker landed,
    // the marker is now committed-but-tableless — the next repair would
    // silently delete it and this append would have returned success
    // for a batch that never serves. Re-verify the table shards exist
    // AFTER the marker rename; on failure delete the marker and fail
    // LOUD (the grace margin above makes this unreachable except under
    // pathological scheduler pauses — this is the belt to its
    // suspenders). The claim itself is deliberately NOT re-checked: a
    // concurrent gcClaims legitimately reclaims below-floor claims the
    // moment a higher id commits, and the marker now protects the shard
    // on its own.
    if (enforceLease && appendLeaseMs > 0L && verifyTables.nonEmpty) {
      val missing = verifyTables.filterNot(t =>
        fs.exists(new org.apache.hadoop.fs.Path(s"$root/$t/shard=$k")))
      if (missing.nonEmpty) {
        try deleteDir(spark, s"$root/commits/shard=$k")
        catch { case _: java.io.IOException => () } // repair will finish it
        throw new java.io.IOException(
          s"append of $root shard=$k lost its table shards " +
            s"(${missing.mkString(", ")}) to a concurrent reconcile before " +
            "the marker landed — marker withdrawn; re-append the batch")
      }
    }
  }

  /** Shard ids with a published commit marker. Empty means either a
    * legacy pre-marker index (no `commits/` table was ever written — the
    * caller decides how to read it) or an index whose first commit never
    * landed. */
  def committedIds(spark: SparkSession, root: String): Seq[Int] = {
    requireSupportedFormat(spark, root)
    shardIds(spark, s"$root/commits")
  }

  /** Committed shard ids MINUS those superseded by a compaction
    * marker's REPLACES set — the id set serving must read. One
    * recursive listing of the (tiny) commits table plus one small read
    * per compaction marker; ordinary appends stay pure directory
    * facts. */
  def liveCommittedIds(spark: SparkSession, root: String): Seq[Int] = {
    requireSupportedFormat(spark, root)
    val fs = fsOf(spark, root)
    var attempts = 0
    while (true) {
      try {
        val all = shardIds(spark, s"$root/commits")
        if (all.isEmpty) return all
        // per-shard-dir reads, NOT a recursive listing of commits/: a
        // recursive walk descends into a CONCURRENT appender's
        // `_shard-staging-*` dir and can hit its files mid-rename
        // (observed as a FileNotFound inside the listing iterator);
        // committed shard dirs are immutable once published, so reading
        // them directly never races an appender
        val replaced = all.flatMap(k => replacesOf(fs, root, k)).toSet
        return all.filterNot(replaced)
      } catch {
        // a compact's post-commit cleanup (single-writer) may delete a
        // superseded marker between our listing and read — re-list and
        // resolve against the post-cleanup state
        case _: java.io.FileNotFoundException if attempts < 3 => attempts += 1
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** Idempotency tags of one committed shard's marker (empty when the
    * shard was committed untagged — every pre-round-15 shard). */
  def shardTags(spark: SparkSession, root: String, k: Int): Seq[String] = {
    val fs = fsOf(spark, root)
    val tp = new org.apache.hadoop.fs.Path(s"$root/commits/shard=$k/TAGS")
    if (!fs.exists(tp)) Nil
    else readSmallFile(fs, tp).split("\n").map(_.trim).filter(_.nonEmpty).toSeq
  }

  /** Union of idempotency tags across LIVE committed shards — the
    * at-least-once replay guard ([[commitShard]] `tags`): a tagged
    * append whose tag is already here has already landed (possibly
    * folded into a compacted shard since — compaction carries tags
    * forward) and must be skipped, not re-appended. Cost: one exists()
    * + tiny read per live shard, bounded by the compaction policy's
    * shard cap; a deleted marker drops its tags by design (a marker
    * deleted by repair means the batch never served — the retry SHOULD
    * re-append). */
  def committedTags(spark: SparkSession, root: String): Set[String] = {
    var attempts = 0
    while (true) {
      try {
        return liveCommittedIds(spark, root)
          .flatMap(k => shardTags(spark, root, k)).toSet
      } catch {
        // a compact's post-commit marker cleanup can race the per-shard
        // TAGS reads exactly like liveCommittedIds' REPLACES reads
        case _: java.io.FileNotFoundException if attempts < 3 => attempts += 1
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** Serving guard for an EMPTY committed set: legitimate only for a
    * legacy pre-marker index, and appends have always REQUIRED markers —
    * so a legacy index can only ever hold `shard=0`. Multi-shard tables
    * with no commit markers mean the commits table was lost or tampered
    * with; reading the table whole would silently serve crash orphans
    * and uncommitted shards, so fail loudly instead. */
  def requireCommittedOrLegacy(spark: SparkSession, root: String,
                               table: String, committed: Seq[Int]): Unit =
    if (committed.isEmpty) {
      val ids = shardIds(spark, s"$root/$table")
      require(ids.forall(_ == 0),
        s"index at $root has shards [${ids.mkString(",")}] under $table but no " +
          "commit markers — commits table lost or tampered; refusing to serve " +
          "possibly-uncommitted shards")
    }

  // ---- on-disk format version ----------------------------------------

  /** Layout format version this binary WRITES and the newest it can
    * READ. A persisted index on an object store outlives any one binary:
    * when a future engine changes the shard/commit layout incompatibly
    * it bumps this and stamps its builds, and THIS binary must refuse to
    * read or mutate such an index loudly — misreading a newer layout
    * (e.g. a commits table whose markers moved) would silently serve
    * uncommitted shards, and appending to it would corrupt it. Bump ONLY
    * on incompatible layout changes; additive files (TAGS, REPLACES were
    * both added without a bump) stay at the same format. */
  val CurrentFormat: Int = 1

  /** TEST SEAM: impersonate a FUTURE engine binary (writes and reads
    * format `n`) — how `IndexFormatSpec` rehearses an actual format
    * bump (old binary refuses, new binary migrates a v1 root) without
    * shipping two binaries. Production never sets this. */
  @volatile private[ext] var formatOverride: Option[Int] = None
  private def writeFormat: Int = formatOverride.getOrElse(CurrentFormat)
  private def maxReadFormat: Int = formatOverride.getOrElse(CurrentFormat)

  /** TEST SEAM: drop every per-JVM protocol cache — models a process
    * restart after a crash-injected publish (a real crash loses the
    * caches with the JVM; an in-process CrashSeam survivor must not
    * keep a verdict for state the "dead process" half-wrote). */
  private[ext] def resetCachesForTest(): Unit = {
    formatCache.clear()
    schemaCache.clear()
  }

  private val FormatFile = "_FORMAT"
  private val FormatKey = "graft.index.format="

  /** Stamp a STAGING dir with the writer's format before it renames into
    * place ([[publish]] / [[publishVersioned]]) — riding the atomic
    * rename means a published index is never observable without its
    * stamp, with no post-publish write window. Underscore-prefixed so
    * parquet readers and shard listings never see it. Legacy roots
    * (anything published before the stamp existed) have no `_FORMAT` and
    * read as format 1 implied; they get stamped at their next
    * publish-routed rewrite (rebuild, or the full-rewrite `compact`
    * forms) — in-place maintenance (`maintain`/`compactSmall`/
    * `compactAllInPlace`) folds shards without touching the stamp,
    * because a live root is never format-mutated under readers. */
  private def stampFormat(fs: org.apache.hadoop.fs.FileSystem,
                          dir: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(s"$dir/$FormatFile")
    if (!fs.exists(p)) {
      val out = fs.create(p, false)
      try out.write(s"$FormatKey$writeFormat\n"
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      finally out.close()
    }
  }

  // One tiny read per root per JVM: versioned publishes land under a NEW
  // v{N} dir (new cache key via the resolved path), so those entries are
  // immutable. The one in-place rewrite path — [[publish]] over an
  // existing dest — invalidates its dest entry itself, so the cache
  // never outlives the stamp it mirrors while staying off the per-serve
  // FS-op budget.
  private val formatCache =
    new java.util.concurrent.ConcurrentHashMap[String, Option[Int]]()

  /** Format stamped at `root`: Some(n) from its `_FORMAT` file, None for
    * a legacy pre-stamp root. Absence is trusted only on a provable
    * FileNotFound ([[readLine1OrThrow]]) — a transiently unreadable
    * stamp must not downgrade the gate to "legacy, proceed". */
  def formatOf(spark: SparkSession, root: String): Option[Int] = {
    val cached = formatCache.get(root)
    if (cached != null) return cached
    val fs = fsOf(spark, root)
    val v = readLine1OrThrow(
      fs, new org.apache.hadoop.fs.Path(s"$root/$FormatFile")).map { line =>
      val n = line.stripPrefix(FormatKey)
      // toIntOption (not forall(isDigit) + toInt): a digits-only value
      // over Int.MaxValue — a plausible corruption shape — must land in
      // the same loud "corrupt stamp" contract, not a bare
      // NumberFormatException from an unvalidated parse.
      val parsed =
        if (line.startsWith(FormatKey)) n.toIntOption else None
      parsed.getOrElse(throw new java.io.IOException(
        s"corrupt $FormatFile under $root: '$line'"))
    }
    formatCache.put(root, v)
    v
  }

  /** Gate on the stamped format — called by every read entry
    * ([[committedIds]], [[liveCommittedIds]]) and every mutation entry
    * ([[claimShardId]], [[acquireMaintLock]]) of the shard protocol, so
    * a binary can neither serve from nor corrupt an index written by a
    * newer engine. */
  def requireSupportedFormat(spark: SparkSession, root: String): Unit =
    formatOf(spark, root).foreach { v =>
      if (v > maxReadFormat)
        throw new java.io.IOException(
          s"index at $root uses on-disk format $v, written by a newer " +
            s"engine than this binary (reads <= $maxReadFormat) — upgrade " +
            "the reader, or rebuild the index with this engine version")
    }

  /** Atomically claim the next free shard id under `root` — the
    * writer-side mutual exclusion for concurrent appenders. Each claim
    * is a `claims/shard=N` directory landed by the same
    * dest-must-not-exist staged rename as a data shard
    * ([[publishShard]]); two appenders racing the same id see exactly
    * one rename win, and the loser retries at the next id. Because a
    * claimed id is NEVER reused (a crashed append just leaves a gap in
    * the id sequence — readers only follow commit markers), a retry
    * after any crash lands in a fresh shard with no reconcile needed,
    * which is also what makes appends safe to run concurrently: nobody
    * deletes anybody else's in-flight uncommitted shards.
    *
    * The rename is the atomic arbiter on HDFS; on a local filesystem
    * the dest-exists check plus the POSIX refusal to rename onto a
    * non-empty directory narrow the race to microseconds, and the nonce
    * read-back below closes even that: the claim file carries a UUID,
    * and a winner is only whoever reads back its OWN nonce. Object-store
    * deployments swap the rename for a conditional PUT (If-None-Match),
    * the same single primitive [[setCurrent]] documents.
    *
    * `tables` are the index's data tables: their existing shard ids
    * join the floor computation so a claim never collides with a
    * pre-claims crash orphan that published table shards without a
    * marker. */
  def claimShardId(spark: SparkSession, root: String, tables: Seq[String]): Int = {
    requireSupportedFormat(spark, root)
    val fs = fsOf(spark, root)
    var attempts = 0
    while (attempts < 64) {
      val floor = (shardIds(spark, s"$root/claims") ++
        shardIds(spark, s"$root/commits") ++
        tables.flatMap(t => shardIds(spark, s"$root/$t"))).foldLeft(-1)(math.max)
      val n = floor + 1
      val nonce = java.util.UUID.randomUUID().toString
      val staging = new org.apache.hadoop.fs.Path(shardStagingFor(s"$root/claims"))
      crashTick()
      fs.mkdirs(staging)
      // line 1: ownership nonce; line 2: writer-clock claim timestamp —
      // the lease's clock authority lives in claim CONTENT (see
      // [[claimTs]]), so object stores with coarse or rename-reset
      // mtimes keep the freshness contract
      val f = fs.create(new org.apache.hadoop.fs.Path(staging, "CLAIM"), false)
      try f.writeBytes(s"$nonce\n${System.currentTimeMillis()}\n")
      finally f.close()
      val won =
        try {
          publishShard(spark, staging.toString, s"$root/claims/shard=$n")
          // ownership verify: a filesystem whose rename fell back to a
          // copy-merge could have "succeeded" for both racers — only the
          // one whose nonce is in the claim file owns the id
          readLine1(fs, new org.apache.hadoop.fs.Path(
            s"$root/claims/shard=$n/CLAIM")).contains(nonce)
        } catch {
          case _: java.io.IOException => fs.delete(staging, true); false
        }
      if (won) return n
      attempts += 1
    }
    throw new java.io.IOException(
      s"claimShardId under $root: lost $attempts consecutive claim races")
  }

  /** Reclaim historical claim dirs: claims accrete one per append for
    * the index's lifetime, but only the MAX claim matters for the
    * never-reuse-an-id floor ([[claimShardId]] takes the max of claims
    * ∪ commits ∪ tables) — once commit markers hold the floor at
    * `maxCommitted`, every claim BELOW it that is not under an active
    * lease is droppable: a live shard doesn't need its claim (its
    * marker holds the floor), a folded shard's claim is history, and an
    * expired below-floor garbage claim protects nothing (its table
    * shards reconcile away; if its appender is merely slow, the
    * commit-time lease enforcement fails it loudly rather than letting
    * it land on a reclaimed id). Runs from the compaction ops
    * (single-maintainer), so the steady-state crawl loop keeps claims
    * bounded by {ids ≥ maxCommitted} ∪ leased instead of growing
    * forever. */
  def gcClaims(spark: SparkSession, root: String): Unit = {
    val committed = shardIds(spark, s"$root/commits")
    if (committed.isEmpty) return
    val maxCommitted = committed.max
    val leased = leasedIds(spark, root)
    for (k <- shardIds(spark, s"$root/claims")
         if k < maxCommitted && !leased.contains(k))
      deleteDir(spark, s"$root/claims/shard=$k")
  }

  /** Maintenance-lock freshness bound: a lock whose owner timestamp is
    * older than this is a crashed maintainer's leftover and may be
    * broken by the next maintainer. Maintenance passes heartbeat the
    * lock ([[heartbeatMaintLock]]) before each long fold phase, so the
    * bound limits only un-heartbeated gaps, not total maintenance
    * duration. Configurable via system property `graft.maint.lock.ms`
    * or [[IndexConfig.maintLockMs]]; 0 disables locking (test mode). */
  @volatile private[ext] var maintLockMs: Long =
    sys.props.get("graft.maint.lock.ms").flatMap(_.toLongOption)
      .getOrElse(30L * 60L * 1000L)

  /** MAINTAINER mutual exclusion (round 12): before this lock,
    * `maintain`/`compactSmall`/`compactAllInPlace` were single-
    * maintainer by documented contract ONLY — two concurrent passes
    * could both select overlapping fold sets, fold the same source
    * shards into two new shards, and serve duplicated rows after both
    * REPLACES markers landed. [[acquireMaintLock]] makes the contract
    * mechanical under the same claim-dir discipline as appender leases:
    * a `maintlock` directory lands via the dest-must-not-exist staged
    * rename (nonce-verified like [[claimShardId]]), carrying the owner
    * timestamp in file CONTENT (clock authority as [[claimTs]]). A
    * second maintainer fails LOUD while the lock is fresh; a stale lock
    * (crashed maintainer, no heartbeat within [[maintLockMs]]) is
    * broken and re-acquired.
    *
    * BREAKING IS RENAME-ASIDE, NEVER DELETE-IN-PLACE (round-12 review):
    * a bare `delete(lock)` after an earlier freshness read is
    * check-then-act — a second breaker whose age check passed before
    * the first breaker's re-acquire would delete the FIRST breaker's
    * fresh lock and both would fold concurrently. A rename is an
    * exclusive takeover of the source: exactly one breaker wins the
    * stale dir, every loser's rename fails and re-races against a lock
    * that now exists. The winner re-verifies it broke the lock it
    * MEASURED (same CLAIM nonce) and restores on mismatch, so even the
    * residual read→rename instant cannot silently destroy a live
    * maintainer's protection. Release uses the same primitive. The
    * final backstop is the COMMIT-TIME ownership check
    * ([[commitShard]]'s `maintLockNonce`): a maintainer that lost its
    * lock anywhere in the fold fails before its REPLACES marker lands.
    * Crash-death leaves a stale lock that ages out — a bounded
    * availability gap, never a correctness one. Returns the owner
    * nonce to pass to [[releaseMaintLock]]; "" when locking is
    * disabled. */
  /** Filesystem schemes whose directory "rename" is a non-atomic
    * copy+delete (object stores). The versioned CURRENT pointer covers
    * PUBLISH on these (single-object replace); the maintenance LOCK has
    * no equivalent mapping — its exclusivity rests on an atomic
    * dest-must-not-exist rename, which these stores cannot provide
    * through the Hadoop FS API. The native primitive that WOULD carry
    * the lock there is a conditional PUT (S3 `If-None-Match: *`, GCS
    * `x-goog-if-generation-match: 0`): create the lock object only if
    * absent, the object's content carrying nonce + owner timestamp
    * exactly as here, heartbeat via unconditional PUT, break via
    * conditional DELETE on the read generation. Until a store-specific
    * module implements that, locking on these schemes fails LOUD (or,
    * with `graft.maint.lock.allowNonAtomic=1`, degrades to the
    * pre-round-12 single-maintainer-by-contract mode). ADLS Gen2
    * (abfs/abfss) and HDFS rename atomically and are NOT listed. */
  private[ext] val NonAtomicRenameSchemes =
    Set("s3", "s3a", "s3n", "gs", "oss", "swift", "cos", "wasb", "wasbs")

  private[ext] def isNonAtomicRenameScheme(root: String): Boolean =
    Option(new org.apache.hadoop.fs.Path(root).toUri.getScheme)
      .exists(s => NonAtomicRenameSchemes.contains(s.toLowerCase))

  /** FileContext for `p` when the scheme has an AbstractFileSystem
    * binding; None when it does not (vendor connectors often ship only
    * a FileSystem impl — `fs.AbstractFileSystem.<scheme>.impl` unset).
    * Callers fall back to the legacy FileSystem primitives there
    * instead of failing with a misleading error. */
  private def fcTry(spark: SparkSession, p: org.apache.hadoop.fs.Path)
      : Option[org.apache.hadoop.fs.FileContext] =
    try Some(fcOf(spark, p))
    catch {
      case _: org.apache.hadoop.fs.UnsupportedFileSystemException => None
    }

  /** Dest-must-not-exist rename: ATOMIC (`FileContext` + `Rename.NONE`,
    * HDFS enforces it server-side) when the scheme has a FileContext
    * binding; the legacy exists-then-rename pair otherwise (best
    * effort — such schemes predate the atomic contract and keep their
    * pre-round-13 behavior). Returns true iff `src` now sits at `dst`;
    * false when the destination already exists. Other IO failures
    * propagate. Used for lock acquisition AND both restore paths — a
    * bare `FileSystem.rename(src, existingDir)` on Hadoop semantics
    * moves src INTO the destination and returns true, which on the
    * restore path would nest a stolen lock inside a successor's lock
    * dir while reporting success. */
  private def renameExclusive(spark: SparkSession,
                              fs: org.apache.hadoop.fs.FileSystem,
                              src: org.apache.hadoop.fs.Path,
                              dst: org.apache.hadoop.fs.Path): Boolean =
    fcTry(spark, dst) match {
      case Some(fc) =>
        try { fc.rename(src, dst, org.apache.hadoop.fs.Options.Rename.NONE); true }
        catch { case _: org.apache.hadoop.fs.FileAlreadyExistsException => false }
      case None => !fs.exists(dst) && fs.rename(src, dst)
    }

  def acquireMaintLock(spark: SparkSession, root: String): String = {
    if (maintLockMs <= 0L) return ""
    if (isNonAtomicRenameScheme(root)) {
      if (sys.props.get("graft.maint.lock.allowNonAtomic").contains("1")) {
        System.err.println(s"[graft] acquireMaintLock on $root: scheme has " +
          "non-atomic rename — lock DISABLED, running under the " +
          "single-maintainer-by-contract mode (allowNonAtomic=1)")
        return ""
      }
      throw new java.io.IOException(
        s"acquireMaintLock on $root: this filesystem scheme renames by " +
          "copy+delete, so the lock's dest-must-not-exist rename is not " +
          "atomic and two maintainers could both acquire. Run maintenance " +
          "from a single scheduled owner and set " +
          "-Dgraft.maint.lock.allowNonAtomic=1 to accept that contract, " +
          "or front the index with an atomic-rename store (HDFS, ADLS).")
    }
    // AFTER the scheme guard (a pure string check that must fire without
    // instantiating any filesystem) — the format gate needs a live fs
    requireSupportedFormat(spark, root)
    val fs = fsOf(spark, root)
    val lock = new org.apache.hadoop.fs.Path(s"$root/maintlock")
    var attempts = 0
    while (attempts < 4) {
      if (fs.exists(lock)) {
        // CLAIM-less (FileNotFound — staleNonce None) is never a valid
        // acquisition (CLAIM is staged before publish), so a fresh HB
        // alone (a crashed heartbeat's resurrected dir) must not block
        // maintenance for a full bound: breakable immediately. An
        // UNREADABLE claim is different — unknown state, maybe a live
        // maintainer — refuse to break rather than waste its fold (the
        // commit-time nonce check would stop the double fold, but only
        // after the live maintainer's whole fold ran for nothing).
        val staleNonce =
          try readLine1OrThrow(fs, new org.apache.hadoop.fs.Path(lock, "CLAIM"))
          catch {
            case e: java.io.IOException => throw new LockBusyException(
              s"acquireMaintLock on $root: the lock's CLAIM exists but is " +
                s"unreadable (${e.getMessage}) — possibly a live maintainer; " +
                "refusing to break an unknown lock, retry once the store recovers")
          }
        val age =
          try System.currentTimeMillis() - claimTs(fs, lock)
          catch { case _: java.io.FileNotFoundException => Long.MaxValue }
        if (staleNonce.nonEmpty && age < maintLockMs)
          throw new LockBusyException(
            s"maintenance already running on $root (lock ${age} ms old, " +
              s"bound $maintLockMs ms) — one maintainer at a time; retry " +
              "after it finishes or its lock goes stale")
        // stale: break by exclusive rename-aside (see scaladoc above)
        val broken = new org.apache.hadoop.fs.Path(
          s"$root/_maintlock-broken-${java.util.UUID.randomUUID().toString.take(8)}")
        try {
          if (fs.rename(lock, broken)) {
            // identity re-verify with the strict reader: an unreadable
            // CLAIM here must RESTORE (unknown ≠ the lock we measured),
            // never compare None == None into deleting a live lock
            val verified =
              try readLine1OrThrow(fs,
                new org.apache.hadoop.fs.Path(broken, "CLAIM")) == staleNonce
              catch { case _: java.io.IOException => false }
            if (verified)
              fs.delete(broken, true) // broke the lock we measured
            // stole a LIVE lock — restore EXCLUSIVELY (a plain rename
            // onto an existing successor lock would nest the stolen
            // dir inside it and report success)
            else if (!renameExclusive(spark, fs, broken, lock))
              throw new java.io.IOException(
                s"acquireMaintLock on $root: renamed a live maintainer's " +
                  s"lock aside and could not restore it — repair $broken " +
                  "manually before running maintenance")
          }
        } catch { case _: java.io.FileNotFoundException => () } // raced: re-loop
      }
      val nonce = java.util.UUID.randomUUID().toString
      val staging = new org.apache.hadoop.fs.Path(
        s"$root/_maintlock-tmp-${java.util.UUID.randomUUID().toString.take(8)}")
      fs.mkdirs(staging)
      val f = fs.create(new org.apache.hadoop.fs.Path(staging, "CLAIM"), false)
      try f.writeBytes(s"$nonce\n${System.currentTimeMillis()}\n")
      finally f.close()
      // acquisition rename is dest-must-not-exist ([[renameExclusive]]
      // — atomic via FileContext Rename.NONE where bound; HDFS enforces
      // it server-side). The old exists-then-FileSystem.rename pair was
      // check-then-act: on filesystems where rename(src, existingDir)
      // moves src INTO the destination, a racer losing between the two
      // calls would deposit its staging dir inside the live holder's
      // lock dir — ownership still decided right by the nonce verify,
      // but the garbage bumped the dir mtime (and claimTs used to fold
      // mtime into its max, extending apparent freshness).
      val won =
        try {
          if (!renameExclusive(spark, fs, staging, lock)) {
            fs.delete(staging, true); false
          } else {
            // verify with the STRICT reader: the rename succeeded, so
            // this process very likely owns the lock — a lenient read
            // that swallowed a transient error here would abandon an
            // owned, never-heartbeated lock and block every maintainer
            // for a full maintLockMs. Readable-but-mismatched nonce
            // (a copy-merge filesystem let both racers "succeed") —
            // leave the racer's lock alone; UNREADABLE — release our
            // probable lock best-effort and re-race.
            try readLine1OrThrow(fs,
              new org.apache.hadoop.fs.Path(lock, "CLAIM")).contains(nonce)
            catch {
              case _: java.io.IOException =>
                val aside = new org.apache.hadoop.fs.Path(
                  s"$root/_maintlock-unverified-${java.util.UUID.randomUUID().toString.take(8)}")
                try { if (fs.rename(lock, aside)) fs.delete(aside, true) }
                catch { case _: java.io.IOException => () }
                false
            }
          }
        } catch {
          case _: java.io.IOException => fs.delete(staging, true); false
        }
      if (won) return nonce
      attempts += 1
    }
    throw new LockBusyException(
      s"acquireMaintLock under $root: lost $attempts consecutive lock races")
  }

  /** Refresh the maintenance lock's owner timestamp (the
    * [[heartbeatClaim]] primitive applied to the lock): called before
    * each fold's long write phase so [[maintLockMs]] bounds only
    * un-heartbeated gaps. No-op when locking is disabled or the caller
    * does not hold the lock (nonce mismatch — a stale-break raced us;
    * the commit-time check ([[commitShard]]'s `maintLockNonce`) stays
    * authoritative). If the HB create resurrected a lock dir a breaker
    * renamed aside in the ownership-check→write window, the CLAIM-less
    * dir is removed (a real lock always carries CLAIM — staged before
    * publish), so an ownerless fresh HB can never block maintenance
    * for a full [[maintLockMs]]. */
  def heartbeatMaintLock(spark: SparkSession, root: String, nonce: String): Unit = {
    if (maintLockMs <= 0L || nonce.isEmpty) return
    val fs = fsOf(spark, root)
    val lock = new org.apache.hadoop.fs.Path(s"$root/maintlock")
    if (!holdsMaintLock(fs, lock, nonce)) return
    writeHb(spark, lock)
    if (!fs.exists(new org.apache.hadoop.fs.Path(lock, "CLAIM")))
      fs.delete(lock, true) // our own resurrection: HB-only dir, remove
  }

  private[ext] def holdsMaintLock(fs: org.apache.hadoop.fs.FileSystem,
                                  lock: org.apache.hadoop.fs.Path,
                                  nonce: String): Boolean =
    readLine1(fs, new org.apache.hadoop.fs.Path(lock, "CLAIM")).contains(nonce)

  /** Release the maintenance lock IF still owned (nonce match) — by the
    * breaker's exclusive rename-aside, not holdsMaintLock-then-delete:
    * a maintainer that overran [[maintLockMs]] could otherwise read its
    * own nonce, lose the lock to a breaker in the read→delete instant,
    * and delete the SUCCESSOR's fresh lock. The rename-aside wins or
    * loses the dir atomically; a mismatched nonce after the rename
    * (we took a successor's lock) restores it. Warned, never thrown:
    * release runs in `finally` and must not mask the original failure.
    * No crash kill-point — crash-death leaves a stale lock that ages
    * out (bounded availability, never correctness). */
  def releaseMaintLock(spark: SparkSession, root: String, nonce: String): Unit = {
    if (maintLockMs <= 0L || nonce.isEmpty) return
    val fs = fsOf(spark, root)
    val lock = new org.apache.hadoop.fs.Path(s"$root/maintlock")
    def warn(msg: String): Unit =
      System.err.println(s"[graft] releaseMaintLock on $root: $msg")
    // strict pre-check too: a transient read error must not skip the
    // release (the abandoned lock would block successors until it ages
    // out); only a persistent failure degrades to skip.
    val held =
      try Some(readLine1OrThrow(fs,
        new org.apache.hadoop.fs.Path(lock, "CLAIM")).contains(nonce))
      catch { case _: java.io.IOException => None }
    held match {
      case Some(false) =>
        warn("lock no longer held by this maintainer (overran maintLockMs " +
          "without heartbeating?) — skipped")
        return
      case None =>
        // distinct diagnosis: a persistent STORE fault, not a lease
        // overrun — the abandoned lock blocks successors until it ages
        // out, and an operator must be able to tell the two apart
        warn("CLAIM unreadable (persistent read failure) — skipping " +
          "release; the lock will age out after maintLockMs")
        return
      case Some(true) => ()
    }
    val rel = new org.apache.hadoop.fs.Path(
      s"$root/_maintlock-rel-${java.util.UUID.randomUUID().toString.take(8)}")
    try {
      if (!fs.rename(lock, rel)) { warn("lock vanished in release — skipped"); return }
      // STRICT read (retry-once): the lenient readLine1 turned a
      // transient IOException into None here, failed the nonce check,
      // and RESTORED the lock the owner was abandoning — blocking every
      // successor for a full maintLockMs. A persistently unreadable
      // CLAIM is unknown state (could be a successor's live lock we
      // just took): restore is the conservative, availability-grade arm.
      val relNonce =
        try readLine1OrThrow(fs, new org.apache.hadoop.fs.Path(rel, "CLAIM"))
        catch { case _: java.io.IOException => None }
      if (relNonce.contains(nonce))
        fs.delete(rel, true)
      // restore EXCLUSIVELY: a plain rename onto a successor's newer
      // lock would nest the stolen dir inside it and "succeed"
      else if (renameExclusive(spark, fs, rel, lock))
        warn("lock was re-acquired by a successor during release — restored")
      else
        warn(s"took a successor's lock during release and could not " +
          s"restore it — repair $rel manually")
    } catch { case e: java.io.IOException => warn(s"release raced: ${e.getMessage}") }
  }

  /** Drop committed-but-INCOMPLETE shards (marker present, some table
    * shard missing): external tampering, a partial restore, or a
    * compaction cleanup that crashed mid-delete. Serving such a shard
    * silently mis-scores against partial state, so appends repair it
    * eagerly — and SAFELY under concurrency: a marker only ever lands
    * AFTER every table shard ([[commitShard]] is the last rename), so a
    * committed-but-incomplete shard can never be another appender's
    * in-flight work. Commits are listed BEFORE tables so a shard that
    * commits mid-check always has its tables visible to the later
    * listing. Uncommitted table shards are NOT touched here (they may
    * be a concurrent appender mid-publish) — full reconcile of those
    * runs only from compact, the single-writer maintenance op. */
  def dropIncompleteCommitted(spark: SparkSession, root: String,
                              tables: Seq[String]): Unit = {
    val committed = shardIds(spark, s"$root/commits").toSet
    if (committed.isEmpty) return
    val perTable = tables.map(t => shardIds(spark, s"$root/$t").toSet)
    val complete = perTable.reduce(_ intersect _)
    // a REPLACES-hidden marker is folded history, never a crashed
    // append (a compaction folds only fully-committed shards; a crashed
    // append has no marker to fold) — a maintainer may retain one past
    // its table data on purpose ([[TrigramStore.gcUnpinned]] keeps a
    // folded marker while a watermark names it, because watermark
    // validity is keyed on marker existence); repairing it away here
    // would flip those watermarks inert and resurrect the rows they
    // supersede
    val fs = fsOf(spark, root)
    val hidden = committed.flatMap(k => replacesOf(fs, root, k))
    val bad = committed diff complete diff hidden
    // markers delete first (publish order mirrored: marker last in,
    // first out) so a crash mid-repair cannot re-manufacture a
    // committed-but-tableless shard
    for (k <- bad) deleteDir(spark, s"$root/commits/shard=$k")
    for ((t, ids) <- tables.zip(perTable); k <- bad intersect ids)
      deleteDir(spark, s"$root/$t/shard=$k")
  }

  /** Total bytes under a path (0 if missing) — the size input to
    * size-tiered compaction. One driver-side content summary, no data
    * read. */
  def dirBytes(spark: SparkSession, path: String): Long = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = fsOf(spark, path)
    if (fs.exists(p)) fs.getContentSummary(p).getLength else 0L
  }

  /** Delete crash-leftover STAGING directories of the index at `root`:
    * sibling `<name>-staging-*` dirs (a full build/compact that died
    * before its publish rename) and hidden `_shard-staging-*` /
    * `_append-staging-*` dirs under the root and its table dirs (an
    * append that died mid-write). All are invisible to readers — this
    * reclaims disk, nothing else — but at 100 TB an abandoned compact
    * staging is a full index copy, so the writers that already rewrite
    * history ([[ShardedIndex]] folds) sweep them.
    * `dest-old-*` asides are NOT touched: a crash inside [[publish]]'s two renames
    * leaves the previous index there for recovery.
    *
    * CONCURRENCY: a staging dir ACTIVELY being written by a live
    * appender is indistinguishable from crash garbage by name alone, so
    * the sweep only reclaims dirs whose newest mtime (dir or any entry,
    * bounded walk — staging trees are a handful of files) is older than
    * [[appendLeaseMs]] — the same lease the shard reconcile honors. A
    * dir that vanishes mid-check was just published/cleaned by its
    * owner: skipped. */
  def gcStaging(spark: SparkSession, root: String): Unit = {
    val rootPath = new org.apache.hadoop.fs.Path(root)
    val fs = fsOf(spark, root)
    val now = System.currentTimeMillis()
    def newestMtime(p: org.apache.hadoop.fs.Path): Long = {
      val st = fs.getFileStatus(p)
      if (!st.isDirectory) st.getModificationTime
      else (st.getModificationTime +:
        fs.listStatus(p).toSeq.map(c => newestMtime(c.getPath))).max
    }
    def expired(p: org.apache.hadoop.fs.Path): Boolean =
      try now - newestMtime(p) >= appendLeaseMs
      catch { case _: java.io.FileNotFoundException => false }
    def sweep(dir: org.apache.hadoop.fs.Path, pred: String => Boolean): Unit =
      if (fs.exists(dir))
        fs.listStatus(dir).foreach { st =>
          if (st.isDirectory && pred(st.getPath.getName) && expired(st.getPath)) {
            crashTick()
            if (!fs.delete(st.getPath, true))
              throw new java.io.IOException(s"gc of ${st.getPath} failed")
          }
        }
    Option(rootPath.getParent).foreach(
      sweep(_, _.startsWith(rootPath.getName + "-staging-")))
    val hidden = (n: String) =>
      n.startsWith("_shard-staging-") || n.startsWith("_append-staging-") ||
        n.startsWith("_maintlock-tmp-") || n.startsWith("_maintlock-broken-") ||
        n.startsWith("_maintlock-rel-")
    sweep(rootPath, hidden)
    if (fs.exists(rootPath))
      fs.listStatus(rootPath).filter(_.isDirectory)
        .foreach(st => sweep(st.getPath, hidden))
  }

  /** Read a shard table pruned to the committed shard ids (the ONE
    * reader idiom of the commit-marker protocol, shared by all three
    * indexes): a partition-column `IN` — directory pruning, no data
    * read. An empty `committed` (legacy pre-marker index) or a missing
    * `shard` column (flat layout, possibly with a hand-placed commits
    * dir next to it) reads the table whole, as pre-marker readers did.
    * `committed` is passed in so a multi-table reader lists the commits
    * dir once per query, not once per table. */
  def readCommitted(spark: SparkSession, root: String, table: String,
                    committed: Seq[Int]): org.apache.spark.sql.DataFrame = {
    val df = readTable(spark, root, table)
    if (committed.isEmpty || !df.columns.contains("shard")) df
    else df.filter(org.apache.spark.sql.functions.col("shard")
      .isInCollection(committed))
  }

  // Schema memo for shard tables (round 16): every bare
  // `spark.read.parquet(dir)` pays a schema-inference pass that Spark
  // launches as a 1-task JOB — a ~50-100 ms scheduler round-trip PER
  // TABLE READ, which at lifecycle granularity (append → serve →
  // maintain each reading 2-4 tables) was a measurable slice of the
  // protocol floor. A table's schema is fixed at index creation (shard
  // appends write the same columns; additive metaCols evolution reads
  // through the FIRST file's footer the same way), so the inference is
  // paid once per (root, table) per JVM. Invalidated with formatCache
  // on the one in-place rewrite path ([[publish]]); versioned roots get
  // fresh keys via the resolved path.
  private val schemaCache = new java.util.concurrent.ConcurrentHashMap[
    (String, String), org.apache.spark.sql.types.StructType]()

  /** Read a shard table with its memoized schema. A cache MISS reads
    * one footer DRIVER-SIDE ([[org.apache.spark.sql.GraftBridge
    * .parquetFileSchema]]) instead of letting `spark.read.parquet` run
    * its 1-task inference job — so even a cold path (a fresh clone, a
    * just-published version dir) pays no scheduler round-trip for
    * schema. The `shard` partition column is not in the footer; Spark
    * appends discovered partition columns to a user-supplied schema
    * exactly as inference would, so committed-shard pruning filters as
    * before. Falls back to plain inference if no data file is found
    * (never expected for a published table). */
  def readTable(spark: SparkSession, root: String,
                table: String): org.apache.spark.sql.DataFrame = {
    val key = (root, table)
    val cached = schemaCache.get(key)
    if (cached != null) return spark.read.schema(cached).parquet(s"$root/$table")
    firstDataFile(spark, s"$root/$table") match {
      case Some(f) =>
        val sch = org.apache.spark.sql.GraftBridge.parquetFileSchema(spark, f)
        schemaCache.put(key, sch)
        spark.read.schema(sch).parquet(s"$root/$table")
      case None =>
        val df = spark.read.parquet(s"$root/$table")
        schemaCache.put(key, df.schema)
        df
    }
  }

  /** A `.parquet` data file under `dir` whose footer is the schema
    * memo's source (recursive, `_`/`.`-files skipped). `shard=N`
    * subdirectories are visited NEWEST FIRST (numeric order): schema
    * evolution is additive-only, so the newest shard always carries the
    * widest schema — reading an old shard's footer would silently
    * project evolved columns away, while the widest schema reads old
    * shards with NULL-fill, the pinned evolution semantics. */
  private val ShardDirRe = "shard=(\\d+)".r
  private def firstDataFile(spark: SparkSession,
                            dir: String): Option[org.apache.hadoop.fs.Path] = {
    val fs = fsOf(spark, dir)
    def dirOrder(name: String): (Long, String) = name match {
      case ShardDirRe(n) => (-n.toLong, "") // newest shard first
      case other => (1L, other)
    }
    def walk(p: org.apache.hadoop.fs.Path): Option[org.apache.hadoop.fs.Path] = {
      val entries = fs.listStatus(p)
      entries.filter(st => !st.isDirectory)
        .sortBy(_.getPath.getName)
        .collectFirst {
          case st if st.getPath.getName.endsWith(".parquet") &&
            !st.getPath.getName.startsWith("_") && !st.getPath.getName.startsWith(".") =>
            st.getPath
        }
        .orElse(entries.filter(st => st.isDirectory &&
            !st.getPath.getName.startsWith("_") && !st.getPath.getName.startsWith("."))
          .sortBy(st => dirOrder(st.getPath.getName))
          .view.flatMap(st => walk(st.getPath)).headOption)
    }
    try walk(new org.apache.hadoop.fs.Path(dir))
    catch { case _: java.io.FileNotFoundException => None }
  }

  /** Drop every cached schema under `root` — the [[publish]]-path twin
    * of the formatCache invalidation; also the writer-side hook after
    * an additive schema evolution ([[VectorIndex.append]]'s
    * `evolveMeta`). */
  private[ext] def invalidateSchemasUnder(root: String): Unit = {
    val it = schemaCache.keySet.iterator()
    while (it.hasNext) if (it.next()._1.startsWith(root)) it.remove()
  }
  private def invalidateSchemas(root: String): Unit = invalidateSchemasUnder(root)

  /** Replace `dest` with `staging` via the Hadoop filesystem of the
    * path (hdfs:// and s3a:// work like file://). The old index is
    * renamed ASIDE first, not deleted: a crash between the two renames
    * leaves the previous index recoverable under `dest-old-*` instead
    * of destroyed (delete-first would lose it permanently — the worst
    * possible failure for a serving index). The aside copy is removed
    * only after the new index is in place. */
  def publish(spark: SparkSession, staging: String, dest: String): Unit = {
    val destPath = new org.apache.hadoop.fs.Path(dest)
    val fs = destPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    stampFormat(fs, staging)
    val aside = new org.apache.hadoop.fs.Path(
      s"$dest-old-${java.util.UUID.randomUUID().toString.take(8)}")
    val hadOld = fs.exists(destPath)
    crashTick()
    if (hadOld && !fs.rename(destPath, aside))
      throw new java.io.IOException(s"publish aside-rename $dest -> $aside failed")
    crashTick()
    if (!fs.rename(new org.apache.hadoop.fs.Path(staging), destPath)) {
      // restore the old index before failing so serving keeps working
      if (hadOld) fs.rename(aside, destPath)
      throw new java.io.IOException(s"publish rename $staging -> $dest failed")
    }
    // publish() overwrites dest IN PLACE (aside + rename) — the one path
    // where a root's format or schema can legitimately change under a
    // path a long-lived JVM already cached. Invalidate IMMEDIATELY
    // after the dest rename (before the aside cleanup, which can crash)
    // so no later gate check in this JVM can serve a stale verdict for
    // the already-swapped root.
    formatCache.remove(dest)
    formatCache.remove(destPath.toString)
    invalidateSchemas(dest)
    invalidateSchemas(destPath.toString)
    crashTick()
    if (hadOld) fs.delete(aside, true)
  }

  // ---- versioned-pointer layout: root/v{N}/<tables>, root/CURRENT ----

  private val VersionRe = "v(\\d{5})".r
  private val Pointer = "CURRENT"

  /** Version numbers present under a versioned root, ascending. */
  def versionIds(spark: SparkSession, root: String): Seq[Int] = {
    val p = new org.apache.hadoop.fs.Path(root)
    val fs = fsOf(spark, root)
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).toSeq.filter(_.isDirectory)
      .map(_.getPath.getName)
      .collect { case VersionRe(n) => n.toInt }
      .sorted
  }

  /** Publish a staged index build as the NEXT version under `root` and
    * flip the CURRENT pointer to it. Two steps, each safe alone: the
    * staging dir renames to a fresh `v{N}` that no reader resolves yet
    * (a crash here leaves an unreferenced version dir — garbage, never
    * served, reclaimed by [[pruneVersions]]), then the pointer file is
    * replaced in one atomic rename (object-store deployments implement
    * this step as a single-object PUT, also atomic). Readers therefore
    * always resolve a COMPLETE version — the copy+delete window of a
    * directory rename on s3a can at worst delay which complete version
    * they see. Returns the published version path. */
  def publishVersioned(spark: SparkSession, staging: String, root: String): String = {
    val fs = fsOf(spark, root)
    fs.mkdirs(new org.apache.hadoop.fs.Path(root))
    val next = versionIds(spark, root).lastOption.getOrElse(0) + 1
    val vdir = f"$root/v$next%05d"
    val vpath = new org.apache.hadoop.fs.Path(vdir)
    if (fs.exists(vpath))
      throw new java.io.IOException(s"versioned publish: $vdir already exists")
    stampFormat(fs, staging)
    crashTick()
    if (!fs.rename(new org.apache.hadoop.fs.Path(staging), vpath))
      throw new java.io.IOException(s"versioned publish rename $staging -> $vdir failed")
    setCurrent(spark, root, f"v$next%05d")
    vdir
  }

  /** Point CURRENT at an existing version (the publish flip, and the
    * instant-rollback path). The pointer is written to a hidden temp
    * file and renamed over CURRENT via [[org.apache.hadoop.fs.FileContext]]
    * with OVERWRITE — atomic on file:// and HDFS; the one primitive an
    * object-store deployment swaps for a plain PUT. */
  def setCurrent(spark: SparkSession, root: String, version: String): Unit = {
    require(VersionRe.matches(version), s"bad version name '$version'")
    val fs = fsOf(spark, root)
    if (!fs.exists(new org.apache.hadoop.fs.Path(s"$root/$version")))
      throw new java.io.IOException(s"setCurrent: $root/$version does not exist")
    val tmp = new org.apache.hadoop.fs.Path(
      s"$root/_$Pointer-${java.util.UUID.randomUUID().toString.take(8)}")
    crashTick()
    val out = fs.create(tmp, true)
    try out.write(version.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    val fc = org.apache.hadoop.fs.FileContext.getFileContext(
      tmp.toUri, spark.sparkContext.hadoopConfiguration)
    crashTick()
    fc.rename(tmp, new org.apache.hadoop.fs.Path(s"$root/$Pointer"),
      org.apache.hadoop.fs.Options.Rename.OVERWRITE)
  }

  /** Whether `root` carries a CURRENT pointer (is a versioned root) —
    * the quiet probe for callers deciding between "serve this dir" and
    * "follow this root"; [[resolveCurrent]] stays loud. */
  def currentExists(spark: SparkSession, root: String): Boolean =
    fsOf(spark, root).exists(new org.apache.hadoop.fs.Path(s"$root/$Pointer"))

  /** The path of the version CURRENT names — the read-side entry point.
    * Fails loudly on a missing root/pointer (an index that was never
    * [[publishVersioned]]) or a tampered pointer value. */
  def resolveCurrent(spark: SparkSession, root: String): String = {
    val ptr = new org.apache.hadoop.fs.Path(s"$root/$Pointer")
    val fs = fsOf(spark, root)
    if (!fs.exists(ptr))
      throw new java.io.IOException(s"no $Pointer pointer under $root")
    val version = readSmallFile(fs, ptr).trim
    if (!VersionRe.matches(version))
      throw new java.io.IOException(s"corrupt $Pointer under $root: '$version'")
    s"$root/$version"
  }

  /** Subtract the tombstone set from `df`, routed by set size (the
    * serving-path routing, shared by every fold/serve site of the three
    * indexes): a small takedown set reads driver-side and pushes into
    * the scan as a literal predicate — no broadcast-build JOB, no
    * deletes scan in the plan; a mid-size set becomes a broadcast
    * LocalRelation anti-join; a corpus-slice set falls back to the
    * distributed anti-join, the right plan at that size. */
  def subtractTombstones(spark: SparkSession, root: String,
                         df: org.apache.spark.sql.DataFrame, idCol: String,
                         delCol: String,
                         maxLiteralIds: Int = 1024): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions.{broadcast, col}
    readIdShards(spark, s"$root/deletes", delCol) match {
      case Some(arr) if arr.isEmpty => df
      case Some(arr) if arr.length <= maxLiteralIds =>
        // NULL parity with the anti-join routes: `NOT id IN (...)` is
        // NULL (not true) for a NULL id, so the bare literal predicate
        // would silently DROP NULL-id rows the anti-join keeps. Index
        // id columns are required int64 today, but the routing must not
        // change semantics with set size.
        df.filter(col(idCol).isNull || !col(idCol).isInCollection(arr.toSeq))
      case Some(arr) =>
        import spark.implicits._
        df.join(broadcast(arr.toSeq.toDF(idCol)), Seq(idCol), "left_anti")
      case None =>
        if (shardIds(spark, s"$root/deletes").isEmpty) df
        else df.join(readTable(spark, root, "deletes")
            .select(col(delCol).as(idCol)), Seq(idCol), "left_anti")
    }
  }

  /** Shard-table write layout: one partition coalesces (no shuffle, no
    * bounds-sampling job — see [[graft.ext.TextIndex]]'s sortedLayout
    * precedent), wider layouts range-partition on `rangeCols`. */
  def sortedLayout(df: org.apache.spark.sql.DataFrame, partitions: Int,
                   sortCols: Seq[String],
                   rangeCols: Seq[String] = Nil): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions.col
    val rc = if (rangeCols.nonEmpty) rangeCols else sortCols.take(1)
    (if (partitions == 1) df.coalesce(1)
     else df.repartitionByRange(partitions, rc.map(col): _*))
      .sortWithinPartitions(sortCols.map(col): _*)
  }

  /** `df.coalesce(1)` when the committed table bytes are small — the
    * single-job idiom for the protocol's TINY aggregates (tombstone
    * mass, dead-fraction, per-shard dead counts). Under AQE every
    * shuffled aggregate is TWO scheduler round-trips (map job + final);
    * coalescing a provably small input to one partition makes the
    * partial and final aggregate collapse into ONE job with no
    * exchange. Gated on the driver-side byte listing so a 100 TB
    * doclens never serializes into a single task — past the bound the
    * shuffled plan is the right one. */
  def smallAggHint(spark: SparkSession, root: String, table: String,
                   shards: Seq[Int],
                   df: org.apache.spark.sql.DataFrame,
                   maxBytes: Long = 64L << 20): org.apache.spark.sql.DataFrame = {
    val ids = if (shards.nonEmpty) shards else shardIds(spark, s"$root/$table")
    val bytes = ids.map(k => dirBytes(spark, s"$root/$table/shard=$k")).sum
    if (bytes <= maxBytes) df.coalesce(1) else df
  }

  /** Delete all version dirs except the newest `keepLast` and (always)
    * the one CURRENT names — crash-orphaned unreferenced versions and
    * rolled-past history are reclaimed here, never during publish (a
    * publish that also deletes would re-open the torn-read window the
    * pointer exists to close). */
  def pruneVersions(spark: SparkSession, root: String, keepLast: Int = 2): Unit = {
    require(keepLast >= 1, s"keepLast must be >= 1, got $keepLast")
    val current = resolveCurrent(spark, root).split('/').last
    val ids = versionIds(spark, root)
    val keep = ids.takeRight(keepLast).toSet + current.stripPrefix("v").toInt
    ids.filterNot(keep).foreach(n => deleteDir(spark, f"$root/v$n%05d"))
  }
}

package graft.etl

import graft.core.{Geo, Norm}
import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Build-time ETL: raw OSM relational form → gazetteer tables
  * (reference: `scripts/build_gazetteer.py` + the SQL migrations).
  *
  * Input contract (FIXTURES.md §2.1, from `build_gazetteer.py:25-54`):
  * `tags map<string,string>` and a WKT geometry column named `wkt` are
  * required; `id bigint` and `name string` are optional. The reference's
  * dynamic `PRAGMA table_info` templating becomes schema introspection +
  * conditional `Column` construction (`df.schema.fieldNames`):
  * missing `name` → NULL arg (`build_gazetteer.py:41`), missing `id` →
  * synthesized unique id (`:42` — same "unique, arbitrary" contract).
  *
  * Both outputs are plain DataFrames; [[write]] persists them as Parquet
  * with a scale-conscious physical layout: `pois` range-partitioned and
  * sorted by `(lat, lon)` so bbox predicates prune Parquet row groups —
  * the Spark replacement for the reference's (ineffective) B-tree indexes
  * (SURVEY.md §4).
  */
object GazetteerBuilder {

  import org.apache.spark.sql.types._

  /** Static schema of [[buildPois]] output (pinned against the builder
    * in `GazetteerBuilderSpec`). Passing it to every re-read of a
    * written pois table skips parquet schema inference — which is a
    * Spark JOB (a distributed footer read) per `spark.read.parquet`
    * call, one of the scheduler round-trips the refresh journey pays
    * per batch (optimization guide §1/§2: remove work, then shuffles);
    * at 100 TB the same call footer-probes thousands of files. */
  val PoisSchema: StructType = StructType(Seq(
    StructField("osm_id", LongType),
    StructField("name_local", StringType),
    StructField("name_en", StringType),
    StructField("name_local_norm", StringType),
    StructField("name_en_norm", StringType),
    StructField("amenity", StringType),
    StructField("shop", StringType),
    StructField("tourism", StringType),
    StructField("leisure", StringType),
    StructField("office", StringType),
    StructField("city", StringType),
    StructField("state", StringType),
    StructField("country", StringType),
    StructField("lat", DoubleType),
    StructField("lon", DoubleType),
    StructField("kind", StringType),
    StructField("importance", DoubleType)))

  /** Static schema of [[buildAdmin]] output — same contract and reason
    * as [[PoisSchema]]. */
  val AdminSchema: StructType = StructType(Seq(
    StructField("osm_id", LongType),
    StructField("name_local", StringType),
    StructField("name_en", StringType),
    StructField("name_local_norm", StringType),
    StructField("name_en_norm", StringType),
    StructField("admin_level", IntegerType),
    StructField("admin_level_raw", StringType),
    StructField("iso1", StringType),
    StructField("iso2", StringType),
    StructField("geom", StringType),
    StructField("minx", DoubleType),
    StructField("miny", DoubleType),
    StructField("maxx", DoubleType),
    StructField("maxy", DoubleType),
    StructField("center_lat", DoubleType),
    StructField("center_lon", DoubleType)))

  /** `gaz.name_local(n, t)` (`000_init.sql:14-19`). */
  private def nameLocal(name: Column, tags: Column): Column = {
    val t = element_at(tags, "name")
    when(name.isNotNull && name =!= "", name)
      .when(t.isNotNull && t =!= "", t)
  }

  /** `gaz.name_en(t)` (`000_init.sql:21`). */
  private def nameEn(tags: Column): Column =
    nullif(element_at(tags, "name:en"), lit(""))

  private def tagOrEmpty(tags: Column, k: String): Column =
    coalesce(element_at(tags, k), lit(""))

  private def tagOrNull(tags: Column, k: String): Column =
    nullif(element_at(tags, k), lit(""))

  /** Resolve the optional-column contract against the actual schema. */
  private def baseColumns(raw: DataFrame): (Column, Column) = {
    val fields = raw.schema.fieldNames.toSet
    val idExpr =
      if (fields.contains("id")) col("id").cast("long")
      else monotonically_increasing_id() // unique, arbitrary — matches ROW_NUMBER() OVER ()
    val nameExpr =
      if (fields.contains("name")) col("name") else lit(null).cast("string")
    require(fields.contains("wkt"),
      "raw table has no geometry column 'wkt' (build_gazetteer.py:38-39 errors likewise)")
    (idExpr, nameExpr)
  }

  /** `gaz.pois` (`001_pois.sql:4-52`): named, categorized POIs with
    * normalized names, centroid lat/lon, kind and importance. */
  def buildPois(raw: DataFrame): DataFrame = {
    val (idExpr, nameExpr) = baseColumns(raw)
    val tags = col("tags")
    val nl = nameLocal(nameExpr, tags)
    val categoryKeys = Seq("amenity", "shop", "tourism", "leisure", "office")

    val src = raw
      .filter(nl.isNotNull || nameEn(tags).isNotNull) // 001_pois.sql:13-14
      .filter(categoryKeys                            // 001_pois.sql:48-52
        .map(k => element_at(tags, k).isNotNull)
        .reduce(_ || _))
      .select(
        idExpr.as("osm_id"),
        nl.as("name_local"),
        nameEn(tags).as("name_en"),
        tags.as("tags"),
        Geo.geomSummaryUdf(col("wkt")).as("g"))
      // unparseable geometry → drop, like buildAdmin; a null lat/lon row
      // would poison serving (the reference's build fails loudly on bad
      // geometry instead — ST_GeomFromText errors)
      .filter(col("g").isNotNull)

    // kind: first-match CASE chain, category priority order is semantic
    // (001_pois.sql:32-39)
    val kindCol = categoryKeys
      .map(k => (tagOrEmpty(col("tags"), k) =!= "", concat(lit(k + ":"), element_at(col("tags"), k))))
      .foldRight(lit("unknown"): Column) { case ((cond, value), acc) =>
        when(cond, value).otherwise(acc)
      }

    // importance: capped additive flag score (001_pois.sql:40-46)
    val importance = least(
      lit(1.0),
      when(element_at(col("tags"), "wikidata").isNotNull, 0.40).otherwise(0.0) +
        when(tagOrEmpty(col("tags"), "tourism") =!= "", 0.25).otherwise(0.0) +
        when(tagOrEmpty(col("tags"), "amenity") =!= "", 0.20).otherwise(0.0) +
        when(tagOrEmpty(col("tags"), "shop") =!= "", 0.10).otherwise(0.0) +
        when(element_at(col("tags"), "website").isNotNull, 0.05).otherwise(0.0))

    src.select(
      col("osm_id"),
      col("name_local"),
      col("name_en"),
      Norm.canon(col("name_local")).as("name_local_norm"),
      Norm.canon(col("name_en")).as("name_en_norm"),
      tagOrEmpty(col("tags"), "amenity").as("amenity"),
      tagOrEmpty(col("tags"), "shop").as("shop"),
      tagOrEmpty(col("tags"), "tourism").as("tourism"),
      tagOrEmpty(col("tags"), "leisure").as("leisure"),
      tagOrEmpty(col("tags"), "office").as("office"),
      tagOrNull(col("tags"), "addr:city").as("city"),
      tagOrNull(col("tags"), "addr:state").as("state"),
      tagOrNull(col("tags"), "addr:country").as("country"),
      col("g.lat").as("lat"),
      col("g.lon").as("lon"),
      kindCol.as("kind"),
      importance.as("importance"))
  }

  /** `gaz.admin` (`002_admin.sql:3-24`): administrative boundaries with
    * envelope + center for bbox resolution. */
  def buildAdmin(raw: DataFrame): DataFrame = {
    val (idExpr, nameExpr) = baseColumns(raw)
    val tags = col("tags")
    val nl = nameLocal(nameExpr, tags)

    raw
      .filter(tagOrEmpty(tags, "boundary") === "administrative")
      .filter(col("wkt").isNotNull)
      .filter(nl.isNotNull || nameEn(tags).isNotNull)
      .select(
        idExpr.as("osm_id"),
        nl.as("name_local"),
        nameEn(tags).as("name_en"),
        Norm.canon(nl).as("name_local_norm"),
        Norm.canon(nameEn(tags)).as("name_en_norm"),
        expr("try_cast(nullif(element_at(tags, 'admin_level'), '') as int)")
          .as("admin_level"),
        tagOrNull(tags, "admin_level").as("admin_level_raw"),
        tagOrEmpty(tags, "ISO3166-1").as("iso1"),
        tagOrEmpty(tags, "ISO3166-2").as("iso2"),
        col("wkt").as("geom"),
        Geo.geomSummaryUdf(col("wkt")).as("g"))
      .filter(col("g").isNotNull)
      .select(
        col("osm_id"), col("name_local"), col("name_en"),
        col("name_local_norm"), col("name_en_norm"),
        col("admin_level"), col("admin_level_raw"), col("iso1"), col("iso2"),
        col("geom"),
        col("g.minx").as("minx"), col("g.miny").as("miny"),
        col("g.maxx").as("maxx"), col("g.maxy").as("maxy"),
        col("g.lat").as("center_lat"), col("g.lon").as("center_lon"))
  }

  /** Build metadata — the reference's `gaz_meta` six-row provenance
    * table (`build_gazetteer.py:75-110`: `duckdb_version`, `pbf`,
    * `quackosm_args`, `schema_version`, `built_at`, `artifact_path`, all
    * as (key, value) ROWS). Key-for-key analogue: `engine_version` ↔
    * `duckdb_version`, `source` ↔ `pbf`, `ingest_args` ↔
    * `quackosm_args`; `built_at` is a row like the reference's
    * `CAST(CURRENT_TIMESTAMP AS TEXT)`, not a column. Overwrite replaces
    * its DELETE+INSERT transaction. */
  def buildMeta(spark: SparkSession, source: String, outPath: String,
                ingestArgs: String = ""): DataFrame = {
    import spark.implicits._
    metaRows(spark, source, outPath, ingestArgs).toDF("key", "value")
  }

  private def metaRows(spark: SparkSession, source: String, outPath: String,
                       ingestArgs: String): Seq[(String, String)] = Seq(
    "engine_version" -> spark.version,
    "source" -> source,
    "ingest_args" -> ingestArgs,
    "schema_version" -> "1",
    "built_at" -> java.time.OffsetDateTime.now(java.time.ZoneOffset.UTC).toString,
    "artifact_path" -> outPath)

  /** The meta sink written DRIVER-SIDE ([[graft.ext.IndexIO
    * .driverParquetFile]]): six literal rows do not need a Spark job's
    * scheduler round-trip + commit protocol per refresh. Readers see
    * the same (key, value) parquet table `buildMeta(...).write` lands. */
  private def writeMetaDriver(spark: SparkSession, dir: String,
                              source: String, outPath: String,
                              ingestArgs: String): Unit =
    graft.ext.DriverParquet.writeFile(spark, dir,
      "message meta { required binary key (UTF8); required binary value (UTF8); }") {
      (schema, w) =>
        for ((k, v) <- metaRows(spark, source, outPath, ingestArgs)) {
          val g = new org.apache.parquet.example.data.simple.SimpleGroup(schema)
          g.add("key", k); g.add("value", v)
          w.write(g)
        }
    }

  /** Persist the gazetteer with a layout that scales: `pois` sorted by
    * (lat, lon) so bbox BETWEEN predicates hit Parquet min/max pruning;
    * `admin` is small and stays broadcast-sized.
    *
    * `overwrite = false` reproduces the reference's idempotent-build
    * gate (`build_gazetteer.py:151-156`): an existing artifact short-
    * circuits the build. Returns true iff a build ran. */
  def write(spark: SparkSession, raw: DataFrame, outPath: String,
            source: String = "raw_osm", bucketTarget: Int = 0,
            overwrite: Boolean = true, ingestArgs: String = ""): Boolean = {
    val metaPath = new org.apache.hadoop.fs.Path(s"$outPath/meta")
    val fs = metaPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!overwrite && fs.exists(metaPath)) return false
    val pois = buildPois(raw)
    val poisPartitions =
      if (bucketTarget > 0) bucketTarget
      else math.max(1, spark.sparkContext.defaultParallelism / 2)
    // pois→trigram (chained: the index builds from the WRITTEN pois) and
    // admin are independent legs — overlapped (guide §2.6); meta stays
    // LAST because it is the idempotent-build gate (`overwrite = false`
    // probes meta existence), so a crashed build can never look complete
    parallelSides(
      () => {
        pois
          .repartitionByRange(poisPartitions, col("lat"), col("lon"))
          .sortWithinPartitions("lat", "lon")
          .write.mode(SaveMode.Overwrite).parquet(s"$outPath/pois")
        // trigram name index: the physical design that keeps the LIKE
        // candidate scan subquadratic at scale (see TrigramIndex).
        // Explicit schema: inference is a footer-read JOB per call.
        // Width SIZE-ROUTED off the just-written pois bytes (the rule
        // TrigramStore's folds follow, both directions): a small
        // corpus writes one gram-sorted file with no bounds-sampling
        // job or shuffle; a large one range-partitions at a width that
        // scales with the data (TrigramIndex.widthFor).
        val poisBytes = dirBytes(spark, s"$outPath/pois")
        TrigramIndex.write(
          spark.read.schema(PoisSchema).parquet(s"$outPath/pois"),
          s"$outPath/name_index",
          partitions = TrigramIndex.widthFor(poisBytes))
      },
      () => buildAdmin(raw).coalesce(1)
        .write.mode(SaveMode.Overwrite).parquet(s"$outPath/admin"))
    writeMetaDriver(spark, s"$outPath/meta", source, outPath, ingestArgs)
    true
  }

  /** [[write]] under the versioned-pointer commit protocol
    * ([[graft.ext.VersionedStore]]) — the INCREMENTAL-REFRESH publish
    * the reference lacks (it rebuilds from scratch into a fixed path; a
    * 100 TB deployment applies an OSM change feed via
    * [[graft.ext.Cdc.applyChanges]] and republises). The full snapshot
    * (pois, admin, meta, name_index) stages as one dir and lands as
    * `root/v{N}` behind one atomic CURRENT flip, so a serving engine
    * ([[graft.query.ScoutEngine.reloadFrom]] pointed at
    * [[graft.ext.VersionedStore.resolveCurrent]]) always loads a
    * COMPLETE snapshot — old or new, never torn — and rollback is a
    * pointer flip back. Returns the published version path. */
  def writeVersioned(spark: SparkSession, raw: DataFrame, root: String,
                     source: String = "raw_osm", bucketTarget: Int = 0,
                     ingestArgs: String = ""): String = {
    val staging = graft.ext.VersionedStore.stagingFor(root)
    write(spark, raw, staging, source, bucketTarget,
      overwrite = true, ingestArgs = ingestArgs)
    graft.ext.VersionedStore.publish(spark, staging, root)
  }

  // ---- delta-proportional refresh (round 17) -------------------------
  //
  // [[writeVersioned]] rebuilds pois + admin + meta + the full trigram
  // index per CDC batch — corpus-linear (28.4 s at sf10, hours at
  // 100 TB). The partitioned layout below makes a refresh cost ∝ |delta|:
  //
  //   root/pool/pk=K/g-xxxxxxxx/   immutable GENERATIONS of each poi
  //                                partition (pk = osm_id / pkWidth, a
  //                                stable id-range key — OSM ids are
  //                                roughly append-ordered, so inserts
  //                                land in the newest ranges and a
  //                                delta touches few partitions)
  //   root/name_index_store/       the trigram index under the IndexIO
  //                                shard protocol ([[graft.ext.TrigramStore]])
  //   root/v{N}/_POIS_MANIFEST     pk -> generation map + the pinned
  //                                trigram (commits, deletes) state
  //   root/v{N}/admin, meta        small tables, rewritten per refresh
  //
  // A refresh reads ONLY the base partitions the delta touches (the
  // manifest is the pruner — untouched generations are REFERENCED by
  // the new manifest, never copied), writes the merged partitions as
  // fresh generations, appends one trigram shard, and publishes the new
  // manifest behind the same atomic CURRENT flip — so rollback stays a
  // pointer flip (the old manifest references the old generations and
  // pins the old index state). Crash anywhere: CURRENT is unflipped,
  // orphan generations are unreferenced garbage ([[gcPool]]).

  private val ManifestFile = "_POIS_MANIFEST"

  // The manifest's own format gate, the [[graft.ext.IndexIO]] stamp
  // discipline applied to the snapshot layout: unknown lines are
  // IGNORED by this parser (how `txn.` rode in compatibly), so without
  // a stamp a FUTURE incompatible layout change (say, a pkWidth
  // re-partitioning scheme) would be silently mis-served by an old
  // binary instead of refused. Manifests without a `format=` line
  // (pre-stamp history) read as format 1 implied.
  private val ManifestWriteFormat = 1
  private val ManifestMaxReadFormat = 1

  /** Per-snapshot pois layout: the id-range width, the pk→generation
    * map, the pinned trigram-store state, and the per-source
    * applied-transaction frontier (`txns`: tag → highest batch id this
    * chain has applied — the exactly-once seam a streaming
    * `foreachBatch` caller needs, see [[refreshDelta]]'s `txn`). */
  final case class PoisManifest(pkWidth: Long, parts: Map[Long, String],
                                ixCommits: Seq[Int], ixDeletes: Seq[Int],
                                txns: Map[String, Long] = Map.empty)

  private def poolDir(root: String): String = s"$root/pool"

  /** The live trigram store of a partitioned gazetteer root. */
  def storeDir(root: String): String = s"$root/name_index_store"

  private def parentOf(versionDir: String): String =
    versionDir.substring(0, versionDir.lastIndexOf('/'))

  private def fsOf(spark: SparkSession, path: String) =
    new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Total bytes under a dir (driver-side listing) — the size gate for
    * width routing; 0 when absent. */
  private def dirBytes(spark: SparkSession, path: String): Long = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = fsOf(spark, path)
    if (!fs.exists(p)) 0L else fs.getContentSummary(p).getLength
  }

  private def writeManifest(spark: SparkSession, dir: String,
                            m: PoisManifest): Unit = {
    val fs = fsOf(spark, dir)
    val out = fs.create(new org.apache.hadoop.fs.Path(s"$dir/$ManifestFile"), true)
    val body = new StringBuilder()
    body ++= s"format=$ManifestWriteFormat\n"
    body ++= s"pk_width=${m.pkWidth}\n"
    body ++= s"ix_commits=${m.ixCommits.mkString(",")}\n"
    body ++= s"ix_deletes=${m.ixDeletes.mkString(",")}\n"
    for ((k, g) <- m.parts.toSeq.sortBy(_._1)) body ++= s"part.$k=$g\n"
    for ((tag, id) <- m.txns.toSeq.sorted) body ++= s"txn.$tag=$id\n"
    try out.write(body.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  /** The manifest of a version dir — None for a [[writeVersioned]]
    * (monolithic) snapshot. Corrupt entries fail loudly: serving a
    * partial partition map would silently drop pois. */
  def readManifest(spark: SparkSession, versionDir: String): Option[PoisManifest] = {
    val fs = fsOf(spark, versionDir)
    val p = new org.apache.hadoop.fs.Path(s"$versionDir/$ManifestFile")
    if (!fs.exists(p)) return None
    val len = fs.getFileStatus(p).getLen.toInt
    val buf = new Array[Byte](len)
    val in = fs.open(p)
    try in.readFully(0, buf) finally in.close()
    val lines = new String(buf, java.nio.charset.StandardCharsets.UTF_8)
      .split('\n').filter(_.nonEmpty)
    def kv(prefix: String): Option[String] =
      lines.find(_.startsWith(prefix)).map(_.stripPrefix(prefix))
    kv("format=").foreach { f =>
      val v = f.toIntOption.getOrElse(corrupt(versionDir, s"format=$f"))
      if (v > ManifestMaxReadFormat) throw new java.io.IOException(
        s"gazetteer manifest at $versionDir uses format $v, written by a " +
          s"newer engine than this binary (reads <= $ManifestMaxReadFormat) " +
          "— upgrade before serving or mutating this root")
    }
    def ints(s: String): Seq[Int] =
      if (s.isEmpty) Nil else s.split(',').toSeq.map(v =>
        v.toIntOption.getOrElse(corrupt(versionDir, v)))
    val width = kv("pk_width=").flatMap(_.toLongOption)
      .getOrElse(corrupt(versionDir, "pk_width"))
    val parts = lines.filter(_.startsWith("part.")).map { l =>
      val eq = l.indexOf('=')
      if (eq < 0) corrupt(versionDir, l)
      val k = l.substring(5, eq).toLongOption.getOrElse(corrupt(versionDir, l))
      k -> l.substring(eq + 1)
    }.toMap
    val txns = lines.filter(_.startsWith("txn.")).map { l =>
      val eq = l.indexOf('=')
      if (eq < 0) corrupt(versionDir, l)
      l.substring(4, eq) ->
        l.substring(eq + 1).toLongOption.getOrElse(corrupt(versionDir, l))
    }.toMap
    Some(PoisManifest(width, parts,
      ints(kv("ix_commits=").getOrElse(corrupt(versionDir, "ix_commits"))),
      ints(kv("ix_deletes=").getOrElse(corrupt(versionDir, "ix_deletes"))),
      txns))
  }

  private def corrupt(dir: String, what: String): Nothing =
    throw new java.io.IOException(s"corrupt $ManifestFile under $dir: '$what'")

  private def newGen(): String =
    "g-" + java.util.UUID.randomUUID().toString.take(8)

  /** Write `pois` (plus a derived pk column) as fresh pool generations —
    * one `pool/pk=K/<gen>/` dir per touched partition, staged under a
    * hidden dir and renamed in (readers only see generations a
    * published manifest references, so the renames need no further
    * ceremony). Rows are (lat, lon)-sorted within each partition so
    * bbox predicates keep their row-group pruning. Returns pk→gen for
    * every partition that received rows. */
  private def writePoolGenerations(spark: SparkSession, root: String,
                                   pois: DataFrame, pkWidth: Long,
                                   gen: String): Map[Long, String] = {
    val staging = s"$root/_pool-staging-${java.util.UUID.randomUUID().toString.take(8)}"
    pois.withColumn("pk", floor(col("osm_id") / pkWidth))
      .repartition(col("pk"))
      .sortWithinPartitions("pk", "lat", "lon")
      .write.partitionBy("pk").mode(SaveMode.Overwrite).parquet(staging)
    val fs = fsOf(spark, root)
    val written = fs.listStatus(new org.apache.hadoop.fs.Path(staging)).toSeq
      .filter(_.isDirectory).map(_.getPath.getName)
      .collect { case s if s.startsWith("pk=") => s.stripPrefix("pk=").toLong }
    for (k <- written) {
      fs.mkdirs(new org.apache.hadoop.fs.Path(s"${poolDir(root)}/pk=$k"))
      if (!fs.rename(new org.apache.hadoop.fs.Path(s"$staging/pk=$k"),
          new org.apache.hadoop.fs.Path(s"${poolDir(root)}/pk=$k/$gen")))
        throw new java.io.IOException(
          s"pool generation rename pk=$k -> $gen failed under $root")
    }
    fs.delete(new org.apache.hadoop.fs.Path(staging), true)
    written.map(_ -> gen).toMap
  }

  /** Full build under the PARTITIONED versioned layout — the base a
    * [[refreshDelta]] chain starts from. Same tables as
    * [[writeVersioned]] (pois, admin, meta, trigram name index), but
    * pois land as pool generations keyed by id range and the trigram
    * index is a [[graft.ext.TrigramStore]] (shard protocol: append,
    * watermark, maintain) instead of a bulk artifact. Returns the
    * published version path. */
  def writeVersionedPartitioned(spark: SparkSession, raw: DataFrame,
                                root: String, source: String = "raw_osm",
                                targetParts: Int = 32,
                                ingestArgs: String = ""): String =
    graft.ext.VersionedStore.withWriterLock(spark, root) {
      writeVersionedPartitionedLocked(spark, raw, root, source, targetParts,
        ingestArgs)
    }

  private def writeVersionedPartitionedLocked(spark: SparkSession,
                                              raw: DataFrame, root: String,
                                              source: String,
                                              targetParts: Int,
                                              ingestArgs: String): String = {
    // A FULL build is the chain's base, never an in-place refresh:
    // TrigramStore.write would swap the live store under every
    // published manifest while their pinned shard IDS keep resolving
    // against the NEW store's content — an old snapshot would silently
    // serve old pois with a new index. Evolve a live root with
    // refreshDelta; rebuild into a fresh root.
    require(graft.ext.VersionedStore.versionIds(spark, root).isEmpty &&
        !fsOf(spark, root).exists(
          new org.apache.hadoop.fs.Path(storeDir(root))),
      s"$root already holds a partitioned gazetteer — writeVersionedPartitioned " +
        "is the chain base only; use refreshDelta to evolve it, or build " +
        "into a fresh root")
    val pois = buildPois(raw)
    val maxId = Option(pois.agg(max(col("osm_id"))).head.get(0))
      .map(_.asInstanceOf[Long]).getOrElse(0L)
    val pkWidth = math.max(1L, (maxId + targetParts) / targetParts)
    val gen = newGen()
    val parts = writePoolGenerations(spark, root, pois, pkWidth, gen)
    // the trigram store builds from the WRITTEN generations (no
    // re-execution of the ETL lineage for a second pass)
    val written =
      if (parts.isEmpty) pois.limit(0)
      else spark.read.schema(PoisSchema).parquet(
        parts.keys.toSeq.sorted.map(k => s"${poolDir(root)}/pk=$k/$gen"): _*)
    graft.ext.TrigramStore.write(written, storeDir(root))
    val pin = graft.ext.TrigramStore.pinNow(spark, storeDir(root))
    val staging = graft.ext.VersionedStore.stagingFor(root)
    buildAdmin(raw).coalesce(1)
      .write.mode(SaveMode.Overwrite).parquet(s"$staging/admin")
    writeMetaDriver(spark, s"$staging/meta", source, root, ingestArgs)
    writeManifest(spark, staging,
      PoisManifest(pkWidth, parts, pin.commits, pin.deletes))
    graft.ext.VersionedStore.publish(spark, staging, root)
  }

  /** Apply one CDC batch (raw-schema rows + an op column, the
    * [[graft.ext.Cdc.applyChanges]] feed contract: at most one row per
    * id) as a NEW SNAPSHOT VERSION whose cost is proportional to the
    * DELTA, not the corpus: only partitions holding a changed id are
    * read and rewritten (manifest-pruned), the trigram index takes one
    * appended shard plus watermarks, admin/meta are small and rewrite
    * whole. The result equals a full rebuild over the CDC-applied
    * corpus (oracle-pinned by `g16_gaz_delta` against `g15`'s SQL):
    * [[buildPois]]/[[buildAdmin]] are row-local given explicit ids, so
    * build(apply(base, feed)) ≡ build(base) minus changed keys union
    * build(upserts). Requires the raw schema to carry `id` (an
    * incremental feed without stable ids has no delta identity).
    * Returns the published version path; rollback is
    * [[graft.ext.VersionedStore]]'s pointer flip, same as ever.
    *
    * `txn` — optional (tag, batchId) transaction identity for
    * EXACTLY-ONCE application under an at-least-once caller (Structured
    * Streaming's `foreachBatch` re-delivers the last micro-batch after
    * a crash-restart): the manifest records the highest applied batch
    * id per tag, carried forward across refreshes AND maintenance, and
    * a batch at-or-below the recorded frontier is an idempotent skip —
    * decided under the writer lock, before any job runs, so a replay
    * costs a manifest read, not a refresh. The tag must carry the
    * CALLER's restart identity (e.g. a checkpoint-path digest, the
    * [[graft.streaming.StreamOps.bm25Loop]] precedent): batch ids alone
    * restart at 0 against a fresh checkpoint and would wrongly skip. */
  def refreshDelta(spark: SparkSession, root: String, changes: DataFrame,
                   source: String = "cdc", opCol: String = "op",
                   deleteOp: String = "D",
                   txn: Option[(String, Long)] = None): String = {
    require(changes.columns.contains("id"),
      "refreshDelta needs explicit ids in the change feed")
    txn.foreach { case (tag, _) =>
      require(tag.nonEmpty && !tag.exists(c => c == '=' || c == '\n'),
        s"refreshDelta txn tag must be non-empty without '='/newline: '$tag'")
    }
    // single-writer, MECHANICALLY (round 17): two refreshes racing one
    // root could interleave pool generations with each other's manifest
    // or collide on the version-number allocation — the maintainer-lock
    // protocol fails the second writer loudly instead (retry next
    // batch), the same contract every index maintenance op carries.
    graft.ext.VersionedStore.withWriterLock(spark, root) {
      refreshDeltaLockHeld(spark, root, changes, source, opCol, deleteOp, txn)
    }
  }

  private def refreshDeltaLockHeld(spark: SparkSession, root: String,
                                   changes: DataFrame, source: String,
                                   opCol: String, deleteOp: String,
                                   txn: Option[(String, Long)]): String = {
    val base = graft.ext.VersionedStore.resolveCurrent(spark, root)
    val m = readManifest(spark, base).getOrElse(throw new java.io.IOException(
      s"$base has no $ManifestFile — built by writeVersioned? " +
        "refreshDelta needs the partitioned layout (writeVersionedPartitioned)"))
    // exactly-once: an already-applied (tag, batchId) is a no-op under
    // the lock — the CURRENT snapshot already contains this batch (or a
    // later one from the same source), so the replayed feed is never
    // even evaluated (zero jobs on the crash-restart path)
    val alreadyApplied = txn.exists { case (tag, batchId) =>
      m.txns.get(tag).exists(_ >= batchId)
    }
    // cardinality guard BEFORE any job runs: the loud refusal must not
    // cost a full refresh of work (and a staging orphan) per offending
    // batch. One tag per feed restart-identity is the contract.
    require((m.txns ++ txn).size <= 1000,
      s"refreshDelta: ${(m.txns ++ txn).size} txn tags recorded in the " +
        "manifest — tags must carry a STABLE restart identity (e.g. the " +
        "checkpoint path), not a fresh value per batch")
    if (alreadyApplied) base
    else applyDelta(spark, root, base, m, changes, source, opCol, deleteOp, txn)
  }

  private def applyDelta(spark: SparkSession, root: String, base: String,
                         m: PoisManifest, changes: DataFrame, source: String,
                         opCol: String, deleteOp: String,
                         txn: Option[(String, Long)]): String = {
    // the feed is consumed by FIVE sinks below (touched-pk collect,
    // pois anti-join keys, delta pois, delete-id collect, admin merge);
    // a caller handing a live lineage (a diff over the corpus) would
    // re-execute it per sink — persist defensively (select("*") owns
    // the cache entry, the MinHashIndex.buildStaged precedent) so the
    // refresh pays the feed ONCE. Feeds are delta-sized by contract, so
    // the cached footprint is bounded.
    val feed = changes.select("*")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try refreshDeltaPersisted(spark, root, base, m, feed, source, opCol,
      deleteOp, txn)
    finally { feed.unpersist(false); () }
  }

  private def refreshDeltaPersisted(spark: SparkSession, root: String,
                                    base: String, m: PoisManifest,
                                    changes: DataFrame, source: String,
                                    opCol: String, deleteOp: String,
                                    txn: Option[(String, Long)]): String = {
    val upserts = changes.filter(!(col(opCol) <=> deleteOp)).drop(opCol)
    val deltaPois = buildPois(upserts)
    val keys = changes.select(col("id").cast("long").as("osm_id")).distinct()
    // SIZE-ROUTED key handling (the subtractTombstones discipline): the
    // common CDC batch is small, so ONE bounded (id, isDelete) collect
    // serves the touched-pk set, the base/admin key subtraction (as a
    // NOT-IN literal the parquet scan can evaluate — no broadcast-build
    // job per anti-join), and the delete ids. Past the bound, the
    // distributed plans below take over unchanged — cost routing, never
    // a size limit.
    val smallBound = 1 << 17
    val smallFeed: Option[Array[(Long, Boolean)]] = {
      val rows = changes.select(col("id").cast("long"),
          (col(opCol) <=> deleteOp).as("d")).distinct()
        .limit(smallBound + 1).collect()
      if (rows.length <= smallBound)
        Some(rows.map(r => (r.getLong(0), r.getBoolean(1)))) else None
    }
    // touched id-range partitions: bounded by the partition count, not
    // the delta size — safe to hold driver-side at any corpus scale.
    // The driver-side floor mirrors the SQL floor(osm_id / pkWidth)
    // (double division) exactly — ids are bounded far below the 2^53
    // precision edge by the raw contract.
    val touched = smallFeed match {
      case Some(pairs) =>
        pairs.map(p => math.floor(p._1.toDouble / m.pkWidth).toLong).toSet
      case None => keys
        .select(floor(col("osm_id") / m.pkWidth).as("pk")).distinct()
        .collect().map(_.getLong(0)).toSet
    }
    def minusKeys(df: DataFrame): DataFrame = smallFeed match {
      case Some(pairs) =>
        if (pairs.isEmpty) df
        else df.filter(!col("osm_id").isInCollection(pairs.map(p => p._1: java.lang.Long).toSeq))
      case None => df.join(keys, Seq("osm_id"), "left_anti")
    }
    val basePaths = m.parts.collect {
      case (k, g) if touched(k) => s"${poolDir(root)}/pk=$k/$g"
    }.toSeq.sorted
    val basePois =
      if (basePaths.isEmpty) deltaPois.limit(0)
      else spark.read.schema(PoisSchema).parquet(basePaths: _*)
    val merged = minusKeys(basePois).unionByName(deltaPois)
    val gen = newGen()
    // one appended trigram shard for the upserts; CDC deletes become
    // watermarks. The delete-id collect is bounded loudly — a takedown
    // batch past the driver bound should arrive as several batches.
    val delIds: Seq[Long] = smallFeed match {
      case Some(pairs) => pairs.filter(_._2).map(_._1).toSeq
      case None =>
        val rows = changes.filter(col(opCol) <=> deleteOp)
          .select(col("id").cast("long")).distinct()
          .limit((1 << 20) + 1).collect()
        require(rows.length <= (1 << 20),
          s"refreshDelta: delete batch exceeds ${1 << 20} ids — split the feed")
        rows.toSeq.map(_.getLong(0))
    }
    // the bounded-feed route already holds the upsert ids driver-side:
    // hand them to append so it skips its read-back-the-written-shard
    // probe job (one fewer pass + scheduler round-trip per CDC batch)
    val upsertIds: Option[Seq[Long]] =
      smallFeed.map(_.filterNot(_._2).map(_._1).toSeq)
    val staging = graft.ext.VersionedStore.stagingFor(root)
    // THREE independent write legs, overlapped (optimization guide
    // §2.6: actions are only sequential because the driver calls them
    // sequentially): the pool generations, the trigram shard append,
    // and the small staging tables share no files and each is crash-
    // atomic on its own (unpublished staging / unreferenced generations
    // / the append's marker protocol) — the sequencing the protocol
    // DOES need is only "all three before manifest+publish", which the
    // joins below enforce. On a quiet 32-core driver this folds three
    // job floors into the slowest one; at scale it overlaps three
    // independent I/O legs of one batch.
    val writtenParts = parallelSides(
      () => writePoolGenerations(spark, root, merged, m.pkWidth, gen),
      () => graft.ext.TrigramStore.append(deltaPois, storeDir(root),
        deleteIds = delIds, upsertIds = upsertIds),
      () => {
        val oldAdmin = spark.read.schema(AdminSchema).parquet(s"$base/admin")
        minusKeys(oldAdmin)
          .unionByName(buildAdmin(upserts))
          .coalesce(1).write.mode(SaveMode.Overwrite).parquet(s"$staging/admin")
        writeMetaDriver(spark, s"$staging/meta", source, root,
          ingestArgs = s"cdc:${touched.size} parts")
      })
    // untouched partitions carry forward by REFERENCE; a touched
    // partition absent from the rewrite lost its last row — drop it
    val parts = m.parts.filterNot { case (k, _) => touched(k) } ++ writtenParts
    // pin AFTER the append's marker landed — the manifest must pin the
    // post-append index state
    val pin = graft.ext.TrigramStore.pinNow(spark, storeDir(root))
    writeManifest(spark, staging,
      PoisManifest(m.pkWidth, parts, pin.commits, pin.deletes,
        m.txns ++ txn)) // cardinality guarded up-front in LockHeld
    graft.ext.VersionedStore.publish(spark, staging, root)
  }

  /** Run side-effecting legs concurrently with `main`, propagating the
    * FIRST failure after all settle (so a failed leg never leaves
    * another mid-write when the caller unwinds — staging/append
    * crash-atomicity covers what was in flight). Spark actions are
    * thread-safe on one session; one bounded thread per side leg, torn
    * down per call. */
  private def parallelSides[T](main: () => T, sides: (() => Unit)*): T = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(sides.size)
    val fs = sides.map(s => pool.submit(new java.util.concurrent.Callable[Unit] {
      def call(): Unit = s()
    }))
    try {
      val r = main()
      fs.foreach(_.get())
      r
    } catch {
      case e: Throwable =>
        // let the side legs settle before rethrowing; their own errors
        // are secondary to the first one observed
        fs.foreach(f => try f.get() catch { case _: Throwable => () })
        e match {
          case ee: java.util.concurrent.ExecutionException => throw ee.getCause
          case _ => throw e
        }
    } finally pool.shutdown()
  }

  /** The CURRENT snapshot's applied-transaction frontier for `tag`
    * (None when the root has no versions, no manifest, or no entry) —
    * the streaming loop's replay fast-path probe. Read OUTSIDE the
    * writer lock: the frontier only advances, so a stale read merely
    * falls through to [[refreshDelta]]'s locked re-check; it can never
    * wrongly skip a batch that was not applied. */
  def appliedTxnFrontier(spark: SparkSession, root: String,
                         tag: String): Option[Long] =
    try {
      if (graft.ext.VersionedStore.versionIds(spark, root).isEmpty) None
      else readManifest(spark,
        graft.ext.VersionedStore.resolveCurrent(spark, root))
        .flatMap(_.txns.get(tag))
    } catch {
      // a broken/unreadable root is refreshDelta's to report loudly —
      // the probe's only job is "definitely applied already?"
      case _: java.io.IOException => None
    }

  /** The pois relation of a PARTITIONED snapshot (manifest-resolved
    * pool generations). Fails loudly on a monolithic snapshot — those
    * read `versionDir/pois` directly. */
  def readPois(spark: SparkSession, versionDir: String): DataFrame = {
    val m = readManifest(spark, versionDir).getOrElse(
      throw new java.io.IOException(
        s"$versionDir has no $ManifestFile — read $versionDir/pois directly"))
    val root = parentOf(versionDir)
    require(m.parts.nonEmpty, s"$versionDir references an empty gazetteer")
    // explicit schema: inference over N generation dirs is an N-task
    // footer-read job per bind (measured 33 tasks at the bench layout)
    val paths = m.parts.toSeq.sortBy(_._1)
      .map { case (k, g) => s"${poolDir(root)}/pk=$k/$g" }
    // past Spark's parallel-discovery threshold (32 paths) every bind
    // additionally launches a DISTRIBUTED file-listing job — one task
    // per generation dir (measured 33 tasks / 90–210 ms per bind at the
    // bench layout). The dir list is manifest-held and each generation
    // dir holds a handful of files, so driver-side listing is the
    // cheaper route until the snapshot carries thousands of partitions;
    // past that bound Spark's distributed listing resumes unchanged —
    // cost routing, never a limit. The threshold lives on a cloned
    // session (no shared-session mutation); the frame is re-bound to
    // the caller's session, and the file listing is already resolved at
    // read time so the clone's conf never leaks further.
    val reader =
      if (paths.size > 32 && paths.size <= 4096) {
        val c = org.apache.spark.sql.GraftBridge.cloneSession(spark)
        c.conf.set("spark.sql.sources.parallelPartitionDiscovery.threshold", "4096")
        c
      } else spark
    org.apache.spark.sql.GraftBridge.withSession(
      reader.read.schema(PoisSchema).parquet(paths: _*), spark)
  }

  /** The pinned trigram postings of a PARTITIONED snapshot — the
    * nameIndex a serving engine binds for this version (rollback-exact:
    * the pin restores the older index state). */
  def readNameIndex(spark: SparkSession, versionDir: String): Option[DataFrame] =
    readManifest(spark, versionDir).map { m =>
      graft.ext.TrigramStore.postingsPinned(spark, storeDir(parentOf(versionDir)),
        graft.ext.TrigramStore.Pin(m.ixCommits, m.ixDeletes))
    }

  /** Pin-safe maintenance for a PARTITIONED gazetteer root — the
    * operator's one periodic call after a run of [[refreshDelta]]
    * batches (single-writer, like the refreshes themselves):
    *
    *   1. fold the trigram store when its policy asks for it
    *      ([[graft.ext.TrigramStore.maintain]]) — live reads swap
    *      atomically, and every already-published manifest's PINNED
    *      read keeps resolving (folded shards stay on disk, merely
    *      REPLACES-hidden);
    *   2. republish: a new version whose manifest carries the SAME
    *      pk→generation map but pins the POST-FOLD index state (the
    *      admin/meta tables are copied forward) — without this, the
    *      current snapshot would forever pin the pre-fold shards;
    *   3. retention: [[graft.ext.VersionedStore.gc]] prunes rolled-past
    *      versions, [[gcPool]] reclaims unreferenced pois generations;
    *   4. [[graft.ext.TrigramStore.gcUnpinned]] reclaims the folded
    *      shards and applied watermarks that no SURVIVING manifest pins.
    *
    * Cost: the fold is index-linear (it is the hygiene op — run it at
    * maintenance cadence, not per batch); everything else is
    * driver-side listings and two tiny table copies. Returns the
    * republished version path. */
  def maintainSnapshots(spark: SparkSession, root: String,
                        keepLast: Int = 2, partitions: Int = 8,
                        maxShards: Int = 8,
                        tombstoneFrac: Double = 0.3): String =
    graft.ext.VersionedStore.withWriterLock(spark, root) {
      maintainSnapshotsLocked(spark, root, keepLast, partitions, maxShards,
        tombstoneFrac)
    }

  private def maintainSnapshotsLocked(spark: SparkSession, root: String,
                                      keepLast: Int, partitions: Int,
                                      maxShards: Int,
                                      tombstoneFrac: Double): String = {
    val store = storeDir(root)
    // MEASURED trigger, not an unconditional fold (round 18): the
    // policy folds all (dead-posting fraction) or size-tiered (shard
    // count), pin-safe either way — a cheap "none" decision still runs
    // the retention/gc tail below.
    val report = graft.ext.TrigramStore.maintain(spark, store, maxShards,
      tombstoneFrac, partitions)
    val base = graft.ext.VersionedStore.resolveCurrent(spark, root)
    val m = readManifest(spark, base).getOrElse(throw new java.io.IOException(
      s"$base has no $ManifestFile — maintainSnapshots needs the partitioned layout"))
    // post-maintenance pin: [[graft.ext.TrigramStore.pinNow]] already
    // subtracts fold-applied watermark shards (the `_APPLIED` mark), so
    // after a fold-all the new snapshot pins zero delete shards and
    // after a partial fold it carries exactly the still-load-bearing
    // ones — which is what lets the gcUnpinned tail retire the rest.
    val pin = graft.ext.TrigramStore.pinNow(spark, store)
    val staging = graft.ext.VersionedStore.stagingFor(root)
    // admin/meta carry forward UNCHANGED: a byte-identical file copy,
    // not a Spark read+rewrite — the old form cost 4 scheduler
    // round-trips (2 schema-inference jobs + 2 one-task writes) per
    // maintenance to re-encode tables this op never modifies
    copyTableFiles(spark, s"$base/admin", s"$staging/admin")
    copyTableFiles(spark, s"$base/meta", s"$staging/meta")
    // carry the applied-txn frontier: losing it across maintenance
    // would make the next crash-replay double-apply its batch
    writeManifest(spark, staging,
      PoisManifest(m.pkWidth, m.parts, pin.commits, pin.deletes, m.txns))
    val published = graft.ext.VersionedStore.publish(spark, staging, root)
    graft.ext.VersionedStore.gc(spark, root, keepLast)
    gcPool(spark, root, graceMs = 0L) // single-writer: no in-flight gens
    val keptPins = graft.ext.VersionedStore.versionIds(spark, root).flatMap { n =>
      readManifest(spark, f"$root/v$n%05d").map(mm =>
        graft.ext.TrigramStore.Pin(mm.ixCommits, mm.ixDeletes))
    }
    graft.ext.TrigramStore.gcUnpinned(spark, store, keptPins)
    published
  }

  /** Recursive driver-side copy of a small immutable table dir (admin,
    * meta — KB-scale by contract) — the no-job way to carry a table
    * into a new snapshot verbatim. */
  private def copyTableFiles(spark: SparkSession, src: String,
                             dst: String): Unit = {
    val fs = fsOf(spark, src)
    val conf = spark.sparkContext.hadoopConfiguration
    val from = new org.apache.hadoop.fs.Path(src)
    if (!fs.exists(from))
      throw new java.io.IOException(s"copyTableFiles: $src does not exist")
    if (!org.apache.hadoop.fs.FileUtil.copy(fs, from, fs,
        new org.apache.hadoop.fs.Path(dst), false, true, conf))
      throw new java.io.IOException(s"copyTableFiles: $src -> $dst failed")
  }

  /** Reclaim pool generations no live manifest references (crash
    * orphans, rolled-past history after [[graft.ext.VersionedStore.gc]]).
    * `graceMs` shields a concurrent refresh's just-written generations
    * (written before their manifest publishes). */
  def gcPool(spark: SparkSession, root: String,
             graceMs: Long = 15 * 60 * 1000L): Unit = {
    val fs = fsOf(spark, root)
    val pool = new org.apache.hadoop.fs.Path(poolDir(root))
    if (!fs.exists(pool)) return
    val referenced: Set[(Long, String)] =
      graft.ext.VersionedStore.versionIds(spark, root).flatMap { n =>
        readManifest(spark, f"$root/v$n%05d").toSeq.flatMap(_.parts.toSeq)
      }.toSet
    val now = System.currentTimeMillis()
    // toLongOption: a stray non-numeric dir under pool/ must not abort
    // the whole reclamation sweep (it is skipped, not reclaimed)
    for (pkDir <- fs.listStatus(pool).toSeq if pkDir.isDirectory;
         name = pkDir.getPath.getName if name.startsWith("pk=");
         pk <- name.stripPrefix("pk=").toLongOption;
         genDir <- fs.listStatus(pkDir.getPath).toSeq if genDir.isDirectory;
         gen = genDir.getPath.getName
         if !referenced((pk, gen)) &&
           now - genDir.getModificationTime > graceMs)
      fs.delete(genDir.getPath, true)
  }
}

package graft.ext

import org.apache.spark.sql.SparkSession

/** Driver-side single-file parquet write for TINY protocol tables (the
  * [[TextIndex]] driver-writer idiom, shared): a handful of rows
  * written through parquet-java directly costs zero Spark jobs, where
  * `df.coalesce(1).write` pays a full scheduler round-trip + commit
  * protocol per table. Strictly for driver-held, provably-small row
  * sets (metadata sinks, watermark batches below the driver bound) —
  * anything distributed keeps the Spark write. Overwrite semantics.
  * Public: the gazetteer ETL ([[graft.etl.GazetteerBuilder]]) writes
  * its meta sink through this. */
object DriverParquet {

  type GroupWriter = (org.apache.parquet.schema.MessageType,
    org.apache.parquet.hadoop.ParquetWriter[org.apache.parquet.example.data.Group]) => Unit

  /** Write `dir` (replacing it) as one `part-00000.parquet` of parquet
    * Group rows, IN PLACE — for callers whose `dir` already sits inside
    * a hidden staging dir that publishes by rename (the index shard
    * writers); anything else goes through [[writeFile]]. */
  def writeGroups(spark: SparkSession, dir: String, schemaStr: String)(
      write: GroupWriter): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
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

  /** [[writeGroups]] staged beside `dir` and published by one rename. */
  def writeFile(spark: SparkSession, dir: String, schemaStr: String)(
      write: GroupWriter): Unit = {
    IndexIO.crashTick() // protocol-level driver write: fuzz kill point
    // stage + rename (ADVICE r18): streaming straight into the final
    // path left a truncated parquet there on a crash mid-write — and
    // for the gazetteer meta the dir doubles as the idempotent-build
    // gate, so a torn meta made a crashed build look complete. The
    // sibling staging dir lands via one rename (the publishShard
    // idiom); a crash leaves only the staging sibling, never the dir.
    val staging = dir + s"-staging-${java.util.UUID.randomUUID().toString.take(8)}"
    writeGroups(spark, staging, schemaStr)(write)
    IndexIO.crashTick() // publish point: staged file complete, not yet live
    val dirPath = new org.apache.hadoop.fs.Path(dir)
    val fs = dirPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(dirPath)) fs.delete(dirPath, true)
    if (!fs.rename(new org.apache.hadoop.fs.Path(staging), dirPath))
      throw new java.io.IOException(
        s"DriverParquet publish rename $staging -> $dir failed")
  }
}

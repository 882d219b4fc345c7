package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional third arg: comma-separated query-name filter (builder-side
    // fast iteration; the driver always runs the full set)
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").toSet) else None
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = Boot.session("graft-verify", s"local[$cpus]", cpus.toInt,
      "spark.sql.limit.initialNumPartitions" -> "64")
    new java.io.File(outDir).mkdirs()
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = graft.server.Json.quote(s)
    // Completeness manifest, written BEFORE any query runs: the full
    // registry the compare step must account for. A query that errors
    // here leaves no parquet dump; without this manifest the downstream
    // compare silently omits it (round 7 lost 15 queries that way —
    // nothing failed loudly). tools/selfcheck.py fails any name listed
    // here that produced no verdict.
    val selected = SparkEntry.queries.keys.toSeq.sorted.filter(n => only.forall(_.contains(n)))
    Files.writeString(Paths.get(s"$outDir/registry.json"),
      selected.map(q).mkString("[", ",", "]"))
    val failed = scala.collection.mutable.ListBuffer[(String, String)]()
    SparkEntry.queries.foreach { case (name, fn) =>
      if (only.forall(_.contains(name)))
        try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        catch { case e: Throwable =>
          failed += name -> String.valueOf(e.getMessage)
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
          // a STALE dump from a previous run into the same outDir would
          // otherwise pass the compare on old data, masking the failure
          // — exactly the silent-miss class the manifest exists to stop
          val p = new org.apache.hadoop.fs.Path(s"$outDir/$name")
          val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
          if (fs.exists(p)) fs.delete(p, true)
        }
    }
    // Loud end-of-run failure recap (single scan of stderr finds it) +
    // machine-readable record next to the dumps.
    Files.writeString(Paths.get(s"$outDir/verify_failures.json"),
      failed.map { case (n, m) => s"${q(n)}: ${q(m)}" }.mkString("{", ",", "}"))
    if (failed.nonEmpty)
      System.err.println(s"[verify] ${failed.size}/${selected.size} queries FAILED: " +
        failed.map(_._1).mkString(", "))
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}

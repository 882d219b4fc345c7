package graft.etl

import graft.core.Settings
import org.apache.spark.sql.SparkSession

/** Build CLI — the analogue of the reference's
  * `scripts/build_gazetteer.py` main, driven by the same settings
  * surface (`settings.py:6-13`):
  *
  * `runMain graft.etl.BuildMain <rawParquetPath> [outPath] [config.toml]`
  *
  * The output path defaults to `settings.dbPath` (`[data] db_path` /
  * `GAZETTEER_DB_PATH`); the idempotent-build gate honors
  * `settings.buildOverwrite` (`[build] overwrite` / `OVERWRITE` — the
  * reference's `build_gazetteer.py:151-156` skip); the recorded `source`
  * provenance row is `settings.pbfUrl` when configured, else the raw
  * input path; the CLI args land in the `ingest_args` row (the
  * `quackosm_args` analogue).
  */
object BuildMain {

  /** Testable core: returns true iff a build ran (gate semantics). */
  def run(spark: SparkSession, rawPath: String, settings: Settings,
          outPath: Option[String] = None, cliArgs: Seq[String] = Nil): Boolean = {
    val out = outPath.getOrElse(settings.dbPath)
    GazetteerBuilder.write(spark, spark.read.parquet(rawPath), out,
      source = if (settings.pbfUrl.nonEmpty) settings.pbfUrl else rawPath,
      overwrite = settings.buildOverwrite,
      ingestArgs = cliArgs.mkString(" "))
  }

  def main(args: Array[String]): Unit = {
    if (args.isEmpty) {
      System.err.println(
        "usage: runMain graft.etl.BuildMain <rawParquetPath> [outPath] [config.toml]")
      sys.exit(2)
    }
    val settings =
      if (args.length > 2) Settings.load(args(2)) else Settings.load("config.toml")
    val spark = graft.Boot.session("graft-build",
      s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")}]", 8)
    val ran = run(spark, args(0), settings,
      outPath = if (args.length > 1) Some(args(1)) else None,
      cliArgs = args.toSeq)
    println(if (ran) "build: wrote gazetteer" else "build: artifact exists, skipped (set OVERWRITE=1 to rebuild)")
    spark.stop()
  }
}

package graft.server

import graft.core.Settings
import graft.query.ScoutEngine
import org.apache.spark.sql.SparkSession

/** Serve a built gazetteer over HTTP:
  * `sbt "runMain graft.server.ServeMain [gazetteerPath] [port] [config.toml]"`
  * (build one first with [[graft.etl.GazetteerBuilder.write]] — e.g. the
  * Demo writes /tmp/graft-demo-gaz). With no path argument the artifact
  * location comes from settings (`[data] db_path` / `GAZETTEER_DB_PATH`),
  * like the reference's `Settings.db_path` (`settings.py:7,36-38`).
  */
object ServeMain {

  /** Start serving `path` on `port` — a VERSIONED root (CURRENT
    * pointer present) serves its current snapshot AND follows the
    * pointer ([[graft.query.ScoutEngine.followCurrent]]), so a
    * gazCdcLoop/refreshDelta publish reaches requests with no /reload
    * call or restart; a plain snapshot dir serves as-is. Returns the
    * server, the follower handle (None for a plain dir), and the
    * engine — the caller owns all three (stop the follower FIRST, then
    * the server, then engine.close(): closing the engine releases its
    * persisted admin cache, which a still-running follower's reload
    * would silently re-register); [[main]] joins forever. */
  def launch(spark: SparkSession, path: String, port: Int,
             settings: Settings = Settings()): (ScoutServer, Option[AutoCloseable], ScoutEngine) = {
    val isRoot = graft.ext.VersionedStore.currentExists(spark, path)
    val bound =
      if (isRoot) graft.ext.VersionedStore.resolveCurrent(spark, path) else path
    val engine = ScoutEngine.fromPath(spark, bound, settings)
    val follower =
      try if (isRoot) Some(engine.followCurrent(path, initial = Some(bound)))
          else None
      catch { case e: Throwable => engine.close(); throw e }
    try (new ScoutServer(engine, port).start(), follower, engine)
    catch {
      case e: Throwable =>
        follower.foreach(_.close()); engine.close(); throw e
    }
  }

  def main(args: Array[String]): Unit = {
    val settings =
      if (args.length > 2) Settings.load(args(2)) else Settings.load("config.toml")
    val path = if (args.nonEmpty) args(0) else settings.dbPath
    val port = if (args.length > 1) args(1).toInt else 8000
    val spark = graft.Boot.session("graft-serve",
      s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")}]", 8)
    val (server, follower, _) = launch(spark, path, port, settings)
    println(s"graft serving on :${server.boundPort} (POST /v1/geocode/forward, " +
      s"/v1/geocode/bulk, /v1/geocode/reverse; GET /healthz)" +
      (if (follower.isDefined) s" — following CURRENT of $path" else ""))
    Thread.currentThread().join()
  }
}

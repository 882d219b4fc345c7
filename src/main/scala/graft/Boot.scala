package graft

import org.apache.spark.sql.SparkSession

/** The session bootstrap shared by every entry point, tool and spec:
  * master selection, executor-JVM wiring and the session settings all
  * of them run with.
  *
  * `SPARK_GRAFT_MASTER=local-cluster[2,8,4096]` runs the engine with
  * executors in SEPARATE JVMs (Spark's standalone-in-a-box test
  * master): real closure serialization, real broadcast transport, real
  * shuffle blocks over the network stack. `local[n]` keeps executors
  * inside the driver process, where a non-serializable closure capture
  * or a driver-state assumption can never be falsified — so the
  * local-cluster pass is the credibility gate for "this plan survives
  * a real cluster", run per-round over the full query registry and the
  * serving specs (see SCALE.md).
  *
  * Executor JVMs get this process's full classpath (`fork := true`
  * makes `java.class.path` the complete app classpath) and the same
  * JDK17 `--add-opens` set spark-submit injects. Requires
  * `SPARK_HOME=/opt/spark` in the environment (the standalone worker
  * resolves its launch scripts from it).
  */
object Boot {
  /** JavaModuleOptions.defaultModuleOptions() equivalent — executor
    * JVMs are launched by the worker, not spark-submit, so nothing
    * injects these for us on JDK 17. */
  val addOpens: String = Seq(
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
  ).map(p => s"--add-opens=$p=ALL-UNNAMED").mkString(" ")

  /** The one SparkSession bootstrap. Fixed for every caller: the
    * `SPARK_GRAFT_MASTER` override ([[master]]), UI off, the Graft SQL
    * extensions, UTC session time and WARN logging. A caller supplies
    * only what really differs: its app name, default master, shuffle
    * width and any extra conf. `getOrCreate` semantics — an already
    * active session is returned, with these confs applied to it where
    * Spark allows. */
  def session(app: String, defaultMaster: String, shufflePartitions: Int,
              conf: (String, String)*): SparkSession = {
    val b = master(SparkSession.builder(), defaultMaster)
      .appName(app)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.ui.enabled", "false")
    val spark = conf.foldLeft(b) { case (acc, (k, v)) => acc.config(k, v) }.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Apply the (possibly overridden) master to `b`; when the override
    * is a local-cluster, also wire the executor JVMs. */
  def master(b: SparkSession.Builder, default: String): SparkSession.Builder = {
    val m = sys.env.getOrElse("SPARK_GRAFT_MASTER", default)
    val b1 = b.master(m)
    if (!m.startsWith("local-cluster")) b1
    else {
      val memMb = """local-cluster\[\s*\d+\s*,\s*\d+\s*,\s*(\d+)\s*\]""".r
        .findFirstMatchIn(m).map(_.group(1)).getOrElse("4096")
      b1.config("spark.executor.memory", s"${memMb}m")
        .config("spark.executor.extraClassPath",
          System.getProperty("java.class.path"))
        .config("spark.executor.extraJavaOptions",
          s"$addOpens -XX:+UseG1GC")
    }
  }
}

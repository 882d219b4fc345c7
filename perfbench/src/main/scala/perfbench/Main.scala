package perfbench

import java.io.File
import org.apache.spark.sql.SparkSession
import scala.collection.mutable

/** What one run reports: operation counts, metrics, and the corpus and
  * load statistics printed beside them. */
final class Result {
  private val born = System.nanoTime()
  /** Record how far into the run a phase ended, and the peak resident
    * set up to then. */
  def mark(phase: String): Unit = {
    stat(s"t.$phase", (System.nanoTime() - born) / 1e9)
    stat(s"hwm.$phase", Server.peakRssMb)
  }
  var attempted = 0L
  var failed = 0L
  var wrong = 0L
  val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  val stats = mutable.LinkedHashMap.empty[String, String]

  def metric(name: String, value: Double, unit: String): Unit =
    metrics(name) = (value, unit)
  def stat(name: String, value: Any): Unit = stats(name) = value match {
    case d: Double => f"$d%.4f"
    case v => v.toString
  }
  def fail(kind: String, n: Long = 1): Unit = {
    failed += n
    stats(s"failed_$kind") = (stats.get(s"failed_$kind").map(_.toLong).getOrElse(0L) + n).toString
  }

  def json: String = {
    val ms = metrics.map { case (k, (v, u)) =>
      s""""$k": {"value": ${if (v.isNaN || v.isInfinite) "null" else v.toString}, "unit": "$u"}"""
    }.mkString(", ")
    s"""{"correct": ${wrong == 0}, "attempted": $attempted, "failed": $failed, "metrics": {$ms}}"""
  }
}

/** Everything a workload needs: the session, a scratch directory inside
  * the checkout, and the run's parameters. */
final class Ctx(val spark: SparkSession, val work: File,
                val cpus: Int, val seed: Long, val seconds: Double,
                val tracer: Tracer, val out: Result) {
  val layers = new Layers
}

/** `perfbench.Main --workload W --seed N --seconds S --trace 0|1
  * --work DIR --out FILE` — one benchmark run; the result object goes to
  * `--out`, statistics lines to stdout. The session is configured as
  * `ServeMain.main` configures its own, since the server runs on it. */
object Main {

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val cpus = Runtime.getRuntime.availableProcessors
    val work = new File(a("work")).getAbsoluteFile
    val spark = graft.Boot.master(SparkSession.builder(), s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val res = new Result
    val ctx = new Ctx(spark, work, cpus,
      a("seed").toLong, a("seconds").toDouble,
      new Tracer(spark, a("trace") == "1"), res)
    res.stat("run.jvm_to_session_s", (System.currentTimeMillis() -
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3)
    val t0 = System.nanoTime()
    try {
      a("workload") match {
        case "serve_point" => Workloads.servePoint(ctx)
        case "serve_batch" => Workloads.serveBatch(ctx)
        case w => throw new IllegalArgumentException(s"unknown workload $w")
      }
      res.stat("run.harness_s", Workloads.secs(t0))
      res.stats.foreach { case (k, v) => println(s"# $k = $v") }
      java.nio.file.Files.writeString(new File(a("out")).toPath, res.json)
    } finally spark.stop()
  }
}

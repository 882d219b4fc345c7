package graft.tools

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}

/** Generic Spark-JOB-count decomposition for any registry query. The
  * lifecycle tier's cost is scheduler round-trips; this shows how many
  * each query pays and (verbose) the stage names, so a cut can be
  * targeted instead of guessed. Each query is drained through the
  * `noop` sink, as in [[graft.Bench]], so every output column runs.
  *
  *   SPARK_GRAFT_JP_VERBOSE=1 sbt "runMain graft.tools.QueryJobProfile [sfDir] [passes] [q1,q2,..]"
  */
object QueryJobProfile {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val passes = if (args.length > 1) args(1).toInt else 2
    val names = (if (args.length > 2) args(2).split(",").toSeq
      else Seq("st_interval_join", "st_enrich", "st_sessions", "st_stream_dedup"))
    val spark = graft.Boot.session("graft-query-job-profile", "local[32]", 32,
      "spark.sql.limit.initialNumPartitions" -> "64")
    val jobs = new AtomicInteger(0)
    val sites = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val verbose = sys.env.get("SPARK_GRAFT_JP_VERBOSE").contains("1")
    // wall-clock per job (start→end, driver-observed): the job-count
    // lens alone can't tell a 30 ms footer probe from a 500 ms write.
    // Populated only under verbose (it feeds the sites listing alone),
    // and flushed at summary time so jobs still in flight when the
    // profiled body returns are listed as in-flight, not dropped.
    val starts = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        jobs.incrementAndGet()
        if (verbose) {
          val desc = e.stageInfos.map(si =>
            s"${si.name.takeWhile(_ != '\n')}(${si.numTasks})").mkString("; ")
          starts.put(e.jobId, (System.nanoTime(), desc))
        }
        ()
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = {
        Option(starts.remove(e.jobId)).foreach { case (t0, desc) =>
          sites.add(f"${(System.nanoTime() - t0) / 1e6}%8.1f ms  $desc")
        }
        ()
      }
    })
    val qs = names.map(n => graft.queries.Registry.all.find(_.name == n)
      .getOrElse(sys.error(s"unknown query $n")))
    qs.foreach(q => graft.Bench.drain(q.run(spark, sfDir))) // warm
    for (p <- 1 to passes; q <- qs) {
      org.apache.spark.sql.GraftBridge.drainListenerBus(spark.sparkContext)
      sites.clear()
      val j0 = jobs.get()
      val t0 = System.nanoTime()
      graft.Bench.drain(q.run(spark, sfDir))
      org.apache.spark.sql.GraftBridge.drainListenerBus(spark.sparkContext)
      println(f"pass $p ${q.name}%-24s ${(System.nanoTime() - t0) / 1e6}%8.1f ms  ${jobs.get() - j0}%3d jobs")
      if (verbose && p == passes) {
        // flush still-running jobs as in-flight so the decomposition
        // can't under-report (ADVICE r18)
        starts.forEach { (id, v) =>
          sites.add(f"${(System.nanoTime() - v._1) / 1e6}%8.1f ms  ${v._2} [in-flight job $id]")
        }
        starts.clear()
        var s = sites.poll()
        while (s != null) { println(s"    job: $s"); s = sites.poll() }
      }
    }
    spark.stop()
  }
}

package perfbench

import graft.query.ScoutEngine
import graft.server.{ScoutServer, ServeMain}
import org.apache.spark.sql.SparkSession

/** The HTTP server as `ServeMain.launch` starts it, on the run's session
  * (configured like `ServeMain.main`'s: `local[<cores>]`, the same conf). */
final class Server private (srv: ScoutServer, follower: Option[AutoCloseable],
                            engine: ScoutEngine) {
  def port: Int = srv.boundPort

  /** In the order `ServeMain.launch` prescribes: follower, server, engine. */
  def stop(): Unit = {
    follower.foreach(_.close())
    srv.stop()
    engine.close()
  }
}

object Server {

  val ReadyTimeoutS = 60

  /** Launch on a free port; returns once `GET /healthz` answers 200. */
  def launch(spark: SparkSession, gazPath: String): Server = {
    val (srv, follower, engine) = ServeMain.launch(spark, gazPath, 0)
    val s = new Server(srv, follower, engine)
    val deadline = System.nanoTime() + ReadyTimeoutS * 1000000000L
    var up = false
    while (!up) {
      if (System.nanoTime() > deadline) {
        s.stop()
        throw new IllegalStateException(s"server not healthy after $ReadyTimeoutS s")
      }
      val c = new Conn(s.port, 2000)
      up = try c.get("/healthz").status == 200
           catch { case _: java.io.IOException => false }
           finally c.close()
      if (!up) Thread.sleep(10)
    }
    s
  }

  /** Heap in use after full collections, in MB: what the process that
    * builds, serves and loads retains. Collects until the heap stops
    * shrinking: between collections Spark's context cleaner drops the
    * blocks of broadcasts and shuffles the previous one found dead. */
  def liveHeapMb: Double = {
    val heap = java.lang.management.ManagementFactory.getMemoryMXBean
    def used = { System.gc(); heap.getHeapMemoryUsage.getUsed / 1048576.0 }
    var (prev, cur, rounds) = (Double.MaxValue, used, 1)
    while (cur < prev - 1.0 && rounds < 10) {
      Thread.sleep(300)
      prev = cur; cur = used; rounds += 1
    }
    cur
  }

  /** CPU time this JVM has used, the time its collectors and its JIT
    * compilers have taken (ms), and how many classes Spark's code
    * generator has compiled. */
  def cpuAndGcMs: (Double, Double, Double, Long) = {
    import java.lang.management.ManagementFactory
    val os = ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    (os.getProcessCpuTime / 1e6,
      ManagementFactory.getGarbageCollectorMXBeans.toArray
        .map(_.asInstanceOf[java.lang.management.GarbageCollectorMXBean].getCollectionTime)
        .sum.toDouble,
      ManagementFactory.getCompilationMXBean.getTotalCompilationTime.toDouble,
      org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount)
  }

  /** Cumulative (busy + idle, stolen) CPU ticks of the machine: a
    * window's stolen share shows a hypervisor taking cores away. */
  def cpuTicks: (Long, Long) = {
    val src = scala.io.Source.fromFile("/proc/stat")
    try {
      val f = src.getLines().next().split("\\s+").drop(1).map(_.toLong)
      (f.take(8).sum, f(7))
    } finally src.close()
  }

  /** Peak resident set of this JVM so far (VmHWM), in MB: the process
    * that builds, serves and loads. */
  def peakRssMb: Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(Double.NaN)
    finally src.close()
  }
}

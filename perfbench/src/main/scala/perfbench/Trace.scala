package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.{PerfbenchBridge, SparkSession}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd
import scala.collection.mutable

/** One recorded span. `req` groups the spans of one request (-1: none).
  * The Spark counters are those of jobs submitted while the span was the
  * innermost open span on the submitting thread. */
final class Span(val id: Int, val parent: Int, val name: String,
                 val req: Long, val start: Long) {
  @volatile var end: Long = -1L
  var jobs, tasks = 0L
  var cpuNs, runMs, shuffleBytes, inputBytes, spillBytes = 0L
  var planMs = 0.0
  def durNs: Long = end - start
}

/** In-memory span recorder plus the Spark listener that attributes jobs,
  * tasks and planning time to spans (a query execution's planning time
  * goes to the span that submitted its jobs). Disabled, `span` only runs its body,
  * so untraced runs measure the program without it. */
final class Tracer(spark: SparkSession, val on: Boolean) {
  private val SpanProp = "perfbench.span"
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val byId = new java.util.concurrent.ConcurrentHashMap[Int, Span]
  private val current = new ThreadLocal[Span]
  private val stageSpan = new java.util.concurrent.ConcurrentHashMap[Int, Span]
  private val execSpan = new java.util.concurrent.ConcurrentHashMap[Long, Span]
  private val execPlanMs = new java.util.concurrent.ConcurrentHashMap[Long, Double]

  private val jobListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val p = Option(e.properties)
      for (sid <- p.flatMap(x => Option(x.getProperty(SpanProp)));
           s <- Option(byId.get(sid.toInt))) {
        s.synchronized { s.jobs += 1 }
        e.stageIds.foreach(stageSpan.put(_, s))
        p.flatMap(x => Option(x.getProperty("spark.sql.execution.id")))
          .foreach(x => execSpan.put(x.toLong, s))
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case end: SparkListenerSQLExecutionEnd =>
        PerfbenchBridge.planMs(end).foreach(execPlanMs.put(end.executionId, _))
      case _ => ()
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      for (s <- Option(stageSpan.get(e.stageId)); m <- Option(e.taskMetrics))
        s.synchronized {
          s.tasks += 1
          s.cpuNs += m.executorCpuTime
          s.runMs += m.executorRunTime
          s.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
          s.inputBytes += m.inputMetrics.bytesRead
          s.spillBytes += m.diskBytesSpilled
        }
  }

  if (on) {
    spark.sparkContext.addSparkListener(jobListener)
  }

  private val nextId = new java.util.concurrent.atomic.AtomicInteger(0)

  /** Spans are recorded while this is set (and the tracer is on). */
  @volatile var enabled: Boolean = true

  def span[T](name: String, req: Long = -1L)(body: => T): T =
    if (!on || !enabled) body
    else {
      val parent = current.get()
      val s = new Span(nextId.incrementAndGet(), if (parent == null) 0 else parent.id,
        name, if (req >= 0 || parent == null) req else parent.req, System.nanoTime())
      byId.put(s.id, s)
      spans.synchronized(spans += s)
      current.set(s)
      val sc = spark.sparkContext
      sc.setLocalProperty(SpanProp, s.id.toString)
      try body
      finally {
        s.end = System.nanoTime()
        current.set(parent)
        sc.setLocalProperty(SpanProp, if (parent == null) null else parent.id.toString)
      }
    }

  /** A span whose interval was measured elsewhere (an HTTP request, from
    * the client's own timestamps). */
  def record(name: String, req: Long, start: Long, end: Long): Unit = if (on) {
    val s = new Span(nextId.incrementAndGet(), 0, name, req, start)
    s.end = end
    spans.synchronized(spans += s)
  }

  /** Wait for the listener bus to deliver every event posted so far, then
    * attach each execution's planning time to its span. */
  def settle(): Unit = if (on) {
    PerfbenchBridge.drainListeners(spark.sparkContext)
    execPlanMs.forEach { (id, ms) =>
      Option(execSpan.get(id)).foreach(s => s.synchronized { s.planMs += ms })
    }
    execPlanMs.clear()
  }

  def all: Seq[Span] = spans.synchronized(spans.toList)

  /** Spans named `name`, each with the counters of its whole subtree. */
  def rolled(name: String): Seq[Span] = {
    val kids = all.groupBy(_.parent)
    def sub(s: Span): Seq[Span] = s +: kids.getOrElse(s.id, Nil).flatMap(sub)
    all.filter(_.name == name).map { s =>
      val r = new Span(s.id, s.parent, s.name, s.req, s.start)
      r.end = s.end
      sub(s).foreach { x =>
        r.jobs += x.jobs; r.tasks += x.tasks; r.cpuNs += x.cpuNs; r.runMs += x.runMs
        r.shuffleBytes += x.shuffleBytes; r.inputBytes += x.inputBytes
        r.spillBytes += x.spillBytes; r.planMs += x.planMs
      }
      r
    }
  }

  /** Duration minus the part of it that its `children` cover. */
  def selfNs(s: Span, children: Seq[Span]): Long = {
    val iv = children.map(c => (c.start, c.end)).sortBy(_._1)
    var covered = 0L; var hi = s.start
    for ((a, b) <- iv) {
      val lo = math.max(a, hi)
      if (b > lo) { covered += b - lo; hi = b }
    }
    s.durNs - covered
  }

  /** Write every span as one JSON line. */
  def write(f: java.io.File): Unit = {
    val kids = all.groupBy(_.parent)
    val w = new java.io.PrintWriter(f, "UTF-8")
    try all.foreach { s =>
      w.println(s"""{"id":${s.id},"parent":${s.parent},"name":"${s.name}","req":${s.req},""" +
        s""""start_ns":${s.start},"end_ns":${s.end},"self_ns":${selfNs(s, kids.getOrElse(s.id, Nil))},"jobs":${s.jobs},""" +
        s""""tasks":${s.tasks},"cpu_ns":${s.cpuNs},"shuffle_bytes":${s.shuffleBytes}}""")
    } finally w.close()
  }
}

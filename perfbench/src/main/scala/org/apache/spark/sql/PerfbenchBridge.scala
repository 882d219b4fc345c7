package org.apache.spark.sql

import org.apache.spark.SparkContext
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** Package-private Spark access the benchmark's tracer needs. */
object PerfbenchBridge {

  /** Block until every listener event posted so far has been delivered. */
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** Analysis + optimization + physical planning time of the execution
    * that just ended, from its own phase tracker (ms). */
  def planMs(e: SparkListenerSQLExecutionEnd): Option[Double] =
    Option(e.qe).map(qe => Seq("analysis", "optimization", "planning")
      .flatMap(qe.tracker.phases.get)
      .map(p => (p.endTimeMs - p.startTimeMs).toDouble).sum)
}

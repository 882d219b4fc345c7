package graft.tools

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Memory-pressure / SPILL correctness probe (round 15): at 100 TB an
  * executor's hash-aggregation map and sort-merge buffers will NOT fit
  * in memory — correctness then depends on Spark's spill paths
  * (UnsafeFixedWidthAggregationMap → ExternalAppendOnlyUnsafeRowArray /
  * UnsafeExternalSorter), which a comfortable local[32] run never
  * exercises. This probe proves the engine's heavy shapes produce
  * BIT-IDENTICAL answers when executors are squeezed hard enough that
  * they demonstrably spill to disk, and measures the spill volume:
  *
  *   phase A (comfortable): local[16], 8 GiB driver — checksums of a
  *     wide hash aggregation (per-orderkey rollup over an N×-scaled
  *     lineitem, millions of groups) and a sort-merge join + reduce
  *     (orders ⋈ lineitem at fat shuffle-partition sizes).
  *   phase B (constrained): local-cluster[2,2,512] — 512 MiB executor
  *     JVMs (≈64 MiB of execution memory per task slot after reserved
  *     memory), shuffle.partitions=8 so partitions are FAT. The same
  *     queries must (1) report diskBytesSpilled > 0 on the executors —
  *     the pressure is real, not hypothetical — and (2) reproduce phase
  *     A's checksums exactly.
  *
  * Scaling uses [[ScaleUp.scaled]] (id-shifted copies, referential
  * integrity preserved) so the fixture grows without leaving the
  * driver-provided sf dir. Checksums are order-free and
  * overflow-safe: sum(pmod(xxhash64(cols), 1e11)) + count, computed ON
  * the executors — nothing large is collected.
  *
  *   SPARK_HOME=/opt/spark SPARK_SCALA_VERSION=2.13 \
  *   sbt "runMain graft.tools.SpillProbe [sfDir] [copies]"
  */
object SpillProbe {

  private def checksum(df: DataFrame): (Long, Long) = {
    val cols = df.columns.sorted.map(c => col(c).cast("string"))
    val r = df.select(
      sum(pmod(xxhash64(cols: _*), lit(100000000000L))).as("h"),
      count(lit(1)).as("n")).collect()(0)
    (r.getLong(1), r.getLong(0))
  }

  /** The two heavy shapes, built over an N×-scaled sf dir. Group counts
    * scale with copies: at copies=48 over sf0.1 the aggregation carries
    * ~7.2M groups and the join sorts ~28.8M lineitem rows across 8
    * reduce partitions — far past what a 512 MiB executor holds. */
  private def queries(spark: SparkSession, sfDir: String,
                      copies: Int): Seq[(String, () => (Long, Long))] = {
    def li = ScaleUp.scaled(
      graft.queries.Tables.table(spark, sfDir, "lineitem"), "lineitem", copies)
    def ord = ScaleUp.scaled(
      graft.queries.Tables.table(spark, sfDir, "orders"), "orders", copies)
    Seq(
      // sums run over per-row DECIMAL casts: exact, order-free
      // aggregation — a double sum's rounding depends on add order,
      // which phase B's different partitioning legitimately changes
      "agg_wide" -> (() => checksum(
        li.groupBy("l_orderkey").agg(
          sum(col("l_quantity").cast("decimal(38,6)")).as("q"),
          count(lit(1)).as("n"),
          sum(col("l_extendedprice").cast("decimal(38,6)")).as("p")))),
      "join_sortmerge" -> (() => checksum(
        ord.join(li, col("o_orderkey") === col("l_orderkey"))
          .groupBy("o_orderpriority", "l_returnflag")
          .agg(count(lit(1)).as("n"),
            sum(col("l_quantity").cast("decimal(38,6)")).as("q")))))
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val copies = if (args.length > 1) args(1).toInt else 48

    // ---- phase A: comfortable memory ----
    val a = graft.Boot.session("graft-spill-comfortable", "local[16]", 32,
      "spark.sql.legacy.parquet.nanosAsLong" -> "true")
    val expect = queries(a, sfDir, copies).map { case (name, run) =>
      val t0 = System.nanoTime()
      val cs = run()
      println(f"A $name%-16s rows=${cs._1}%9d checksum=${cs._2}%14d " +
        f"wall=${(System.nanoTime() - t0) / 1e9}%6.2f s")
      name -> cs
    }
    a.stop()

    // ---- phase B: constrained executors, fat partitions ----
    val b = graft.Boot.session("graft-spill-constrained", "local-cluster[2,2,512]", 8,
      "spark.sql.legacy.parquet.nanosAsLong" -> "true")
    val spilledDisk = new AtomicLong(0)
    val spilledMem = new AtomicLong(0)
    b.sparkContext.addSparkListener(new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
        val m = e.taskMetrics
        if (m != null) {
          spilledDisk.addAndGet(m.diskBytesSpilled)
          spilledMem.addAndGet(m.memoryBytesSpilled)
          ()
        }
      }
    })
    b.range(1000000).selectExpr("sum(id)").collect() // executors up

    var allSpilled = true
    for ((name, _) <- expect) {
      val run = queries(b, sfDir, copies).toMap.apply(name)
      // deterministic per-query attribution: drain the async listener
      // bus at BOTH window edges (baseline and delta) — a wall-clock
      // sleep can attribute query N's late task-end events to query
      // N+1's baseline, or miss them entirely under load
      org.apache.spark.sql.GraftBridge.drainListenerBus(b.sparkContext)
      val (d0, m0) = (spilledDisk.get(), spilledMem.get())
      val t0 = System.nanoTime()
      val cs = run()
      org.apache.spark.sql.GraftBridge.drainListenerBus(b.sparkContext)
      val (dd, dm) = (spilledDisk.get() - d0, spilledMem.get() - m0)
      val exp = expect.toMap.apply(name)
      println(f"B $name%-16s rows=${cs._1}%9d checksum=${cs._2}%14d " +
        f"wall=${(System.nanoTime() - t0) / 1e9}%6.2f s " +
        f"spilled disk=${dd / 1e6}%8.1f MB mem=${dm / 1e6}%8.1f MB " +
        (if (cs == exp) "MATCH" else s"DIVERGED (expected $exp)"))
      require(cs == exp, s"$name diverged under memory pressure")
      if (dd == 0) allSpilled = false
    }
    require(allSpilled,
      "a query completed without disk spill — the probe is not actually " +
        "exercising the spill path at this scale; raise [copies]")
    println(s"all queries spilled and matched (copies=$copies, " +
      s"executors=512 MiB x 2x2 cores, shuffle.partitions=8)")
    b.stop()
  }
}

package graft

import graft.queries.Registry

/** Benchmark main (driver contract): times every declared query at the
  * SF directory in `SPARK_GRAFT_SF_DIR` and prints per-query chunk
  * lines, then one totals JSON line.
  *
  * `value` is the wall-clock total over the full declared inventory;
  * `headline_total` isolates the SURVEY §2.9 core (g1–g8, r1–r10) that
  * BASELINE.md's 2× bound is defined on. A JIT/codegen warmup runs
  * before timing so per-query numbers measure the queries, not JVM
  * warmup — mirroring how the DuckDB baseline is measured from an
  * already-open database.
  */
object Bench {

  /** Per-query timings as self-contained JSON lines, each under the
    * driver's 2000-char stdout tail budget (round 19): the full
    * 157-entry map is ~4 kB, so one line can never survive the tail
    * capture — instead each chunk line parses on its own and the driver
    * concatenates the `queries` maps. Values are rounded to 0.1 ms,
    * far below run-to-run noise, to keep the chunk count low.
    */
  def perQueryChunks(results: Seq[(String, Double)], budget: Int = 1600): Seq[String] = {
    def entry(kv: (String, Double)): String =
      s""""${kv._1}":${math.rint(kv._2 * 1e4) / 1e4}"""
    val groups = scala.collection.mutable.ArrayBuffer(scala.collection.mutable.ArrayBuffer[String]())
    var len = 0
    results.map(entry).foreach { e =>
      if (len + e.length + 1 > budget && groups.last.nonEmpty) {
        groups += scala.collection.mutable.ArrayBuffer[String]()
        len = 0
      }
      groups.last += e
      len += e.length + 1
    }
    val n = groups.size
    groups.zipWithIndex.map { case (g, i) =>
      s"""{"metric":"per_query","chunk":${i + 1},"n_chunks":$n,"queries":${g.mkString("{", ",", "}")}}"""
    }.toSeq
  }

  /** Run `df` to completion into the `noop` sink. A timed `count()`
    * lets Catalyst prune every projected column (and any sort without a
    * limit), so the bench would time a plan that never evaluates the
    * query's expressions; the sink consumes every output column, the
    * same work the DuckDB oracle's `fetchall` does. */
  def drain(df: org.apache.spark.sql.DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  private val Headline = Set(
    "g1_canon", "g2_token_scan", "g3_area_top1", "g4_bbox_scan",
    "g5_importance", "g6_kind_boost", "g7_haversine", "g8_forward_geocode",
    "r1_filter_project", "r2_join", "r3_semi_join", "r3_anti_join",
    "r4_agg", "r5_rollup", "r6_window_topk", "r7_set_ops",
    "r8_distinct_agg", "r9_time_window", "r10_scalars")

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = Boot.session("graft-bench", s"local[$cpus]", 32,
      "spark.sql.limit.initialNumPartitions" -> "64")

    // Warmup: scheduler, codegen, parquet reader, UDF serialization.
    spark.range(1000000).selectExpr("sum(id)").collect()
    spark.read.parquet(s"$sfDir/region.parquet").count()

    val failed = scala.collection.mutable.LinkedHashSet[String]()
    // builder-side fast iteration; the driver never sets this
    val only: Option[Set[String]] =
      sys.env.get("SPARK_GRAFT_BENCH_ONLY").map(_.split(",").toSet)
    // per-run fixture-setup exclusion (round 18): lifecycle queries
    // clone a memoized base index per invocation — harness setup, not
    // engine work; subtracted here so tier totals measure refresh work
    val setupTotal = new java.util.concurrent.atomic.AtomicLong(0L)
    def timeAll(): Seq[(String, Double)] = Registry.all
      .filter(q => only.forall(_.contains(q.name))).map { q =>
      graft.queries.Q.benchSetupNanos.set(0L)
      val t0 = System.nanoTime()
      try drain(q.run(spark, sfDir))
      catch { case e: Throwable =>
        failed += q.name
        System.err.println(s"[bench] ${q.name} failed: ${e.getMessage}")
      }
      val setup = graft.queries.Q.benchSetupNanos.get()
      setupTotal.addAndGet(setup)
      q.name -> math.max(0L, System.nanoTime() - t0 - setup) / 1e9
    }

    // First pass pays one-time Janino codegen compilation per distinct
    // plan shape (a fixed cost that amortizes to zero on any long-lived
    // cluster); then three steady-state passes, reported per query as
    // the MEDIAN — one GC pause / OS-scheduler hiccup can no longer move
    // the acceptance number (the round-2 driver run measured the dd
    // family 3-5x over builder steady state on byte-identical code).
    val cold = timeAll()
    val runs = Seq(timeAll(), timeAll(), timeAll())
    val results = runs.head.indices.map { i =>
      val name = runs.head(i)._1
      val vs = runs.map(_(i)._2).sorted
      name -> vs(1)
    }

    val qs = results.map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")
    val total = results.map(_._2).sum
    val coldTotal = cold.map(_._2).sum
    val headline = results.filter(r => Headline(r._1)).map(_._2).sum

    // Latency tiers (VERDICT r14 task 7): round-over-round totals over
    // 147 queries are dominated by VM drift on ~100 sub-second numbers;
    // per-tier subtotals separate the signal. `lifecycle` = persisted-
    // index / streaming lifecycle queries whose cost is protocol floor
    // (clone+fold+serve jobs, checkpoint drains), matched by NAME so the
    // set is stable across rounds; `floor` = non-lifecycle queries under
    // Spark's ~0.3 s job-floor (their ratios vs DuckDB's ~3 ms are a
    // fixture-scale artifact, not plan cost); `scan` = the rest — the
    // tier where a real plan regression would show.
    val lifecycleRe =
      "(^st_)|maintain|compact|append|versioned|durable|evolve|refresh|loop|gaz_delta".r
    def tierOf(name: String, sec: Double): String =
      if (lifecycleRe.findFirstIn(name).isDefined) "lifecycle"
      else if (sec < 0.3) "floor"
      else "scan"
    val tiers = Seq("floor", "lifecycle", "scan").map { t =>
      val members = results.filter { case (n, v) => tierOf(n, v) == t }
      val names = members.map(m => s""""${m._1}"""").mkString("[", ",", "]")
      s""""$t":{"total":${members.map(_._2).sum},"n":${members.size},"queries":$names}"""
    }.mkString("{", ",", "}")
    val tierTotals = Seq("floor", "lifecycle", "scan").map { t =>
      s""""$t":${results.filter { case (n, v) => tierOf(n, v) == t }.map(_._2).sum}"""
    }.mkString("{", ",", "}")
    // a failed query must be visible in the JSON, not silently deflate it
    val failedJson = failed.map(n => s""""$n"""").mkString("[", ",", "]")
    val full = s"""{"metric":"total","value":$total,"unit":"sec","cold_total":$coldTotal,"headline_total":$headline,"n_queries":${results.size},"excluded_setup_s":${setupTotal.get() / 1e9},"failed":$failedJson,"tiers":$tiers,"queries":$qs,"sf":"$sfDir"}"""
    // The full line (135-query map) blows past the driver's 2000-char
    // stdout tail capture, which left two rounds of BENCH_r*.json at
    // `parsed: null`. Persist the full artifact to a file and print a
    // COMPACT line — totals + failed list, no per-query map — as the
    // LAST stdout line so the tail capture always holds one complete,
    // parseable JSON object. Partial (BENCH_ONLY) runs write a separate
    // file so a targeted repro can never clobber the round's full
    // 135-query record.
    val defaultOut = if (only.isDefined) "target/bench_partial.json" else "target/bench.json"
    // a BENCH_ONLY run may never overwrite a named full-run artifact:
    // with both env vars set, the partial result lands under a derived
    // .partial name instead of clobbering the round's 13x-query record
    val named = sys.env.get("SPARK_GRAFT_BENCH_OUT").map { p =>
      if (only.isDefined) {
        System.err.println(s"[bench] partial run (BENCH_ONLY): writing $p.partial, not $p")
        s"$p.partial"
      } else p
    }
    val outPath = java.nio.file.Paths.get(named.getOrElse(defaultOut))
    Option(outPath.getParent).foreach(java.nio.file.Files.createDirectories(_))
    java.nio.file.Files.write(outPath, (full + "\n").getBytes("UTF-8"))
    // cap the compact line's failed list: a mass-failure run (bad
    // fixture dir) would otherwise push the line back over the tail
    // capture exactly when visibility matters most; the full list is in
    // the file artifact
    val failedCompact = failed.take(20).map(n => s""""$n"""").mkString("[", ",", "]")
    // Per-query timings printed as driver-capturable chunk lines just
    // before the totals line (VERDICT r18 item 1: PERF per_query has
    // been empty two rounds because only the printed lines are
    // ingested). excluded_setup_s moves ONTO the printed line (item 2):
    // a metric that subtracts 13-15 s must announce itself where the
    // driver reads, not only in the file artifact.
    perQueryChunks(results).foreach(println)
    val compact = s"""{"metric":"total","value":$total,"unit":"sec","cold_total":$coldTotal,"headline_total":$headline,"n_queries":${results.size},"n_failed":${failed.size},"excluded_setup_s":${setupTotal.get() / 1e9},"failed":$failedCompact,"tier_totals":$tierTotals,"per_query_file":"$outPath","sf":"$sfDir"}"""
    println(compact)
    spark.stop()
  }
}

package graft.tools

import graft.queries.{Registry, Tables}
import graft.streaming.StreamOps
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Executor-LOSS resilience under local-cluster (VERDICT r14 task 2):
  * kill one executor JVM (`ProcessHandle.destroyForcibly`, a real
  * SIGKILL — in-flight tasks die, its shuffle files and persisted
  * blocks vanish) mid-flight during
  *
  *   (a) a large batch query (`dd_curate_full` — multi-stage, persists
  *       reused relations, banded joins), and
  *   (b) a stateful streaming drain (the st_interval_join shape over
  *       day-sliced events, watermarked stream-stream join),
  *
  * then prove completion with the IDENTICAL result (canonical hash for
  * the batch arm; matched-count == batch-join truth for the stream
  * arm) and measure the recovery overhead vs a clean run. The
  * standalone worker relaunches a replacement executor; Spark retries
  * the dead tasks, refetches/regenerates lost shuffle output, and the
  * replacement's state store reloads from the checkpoint.
  *
  * MUST run under a local-cluster master (executors in separate JVMs):
  *   SPARK_HOME=/opt/spark SPARK_SCALA_VERSION=2.13 \
  *   sbt "runMain graft.tools.ExecutorKillProbe [sfDir]"
  */
object ExecutorKillProbe {

  // ProcessHandle.info().commandLine() caps at 4096 chars on Linux and
  // the executor's classpath alone exceeds it — read /proc directly
  private def cmdlineOf(pid: Long): String =
    try new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"/proc/$pid/cmdline"))).replace('\u0000', ' ')
    catch { case _: Exception => "" }

  private def executorHandles(): Seq[ProcessHandle] = {
    import scala.jdk.CollectionConverters._
    ProcessHandle.current().descendants().iterator().asScala
      .filter(h => cmdlineOf(h.pid()).contains("CoarseGrainedExecutorBackend"))
      .toSeq
  }

  /** SIGKILL one executor; returns its pid once it is confirmed dead. */
  private def killOneExecutor(): Long = {
    val hs = executorHandles()
    require(hs.nonEmpty, "no executor JVMs found — not a local-cluster master?")
    val victim = hs.minBy(_.pid())
    val pid = victim.pid()
    victim.destroyForcibly()
    victim.onExit().join()
    pid
  }

  private def awaitExecutors(n: Int, timeoutMs: Long = 60000): Unit = {
    val t0 = System.currentTimeMillis()
    while (executorHandles().size < n) {
      require(System.currentTimeMillis() - t0 < timeoutMs,
        s"replacement executor did not come back within $timeoutMs ms")
      Thread.sleep(250)
    }
  }

  private def canonicalHash(df: DataFrame): (Long, String) = {
    val rows = df.collect().map(_.toString).sorted
    val md = java.security.MessageDigest.getInstance("MD5")
    rows.foreach(r => md.update(r.getBytes("UTF-8")))
    (rows.length.toLong, md.digest().map(b => f"$b%02x").mkString)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = graft.Boot.session("graft-executor-kill", "local-cluster[2,8,4096]", 32)
    spark.range(1000000).selectExpr("sum(id)").collect()
    awaitExecutors(2)
    println(s"executors up: ${executorHandles().map(_.pid()).mkString(", ")}")

    // ---- (a) batch arm: dd_curate_full ----
    val q = Registry.all.find(_.name == "dd_curate_full").get
    def runBatch(): ((Long, String), Double) = {
      val t0 = System.nanoTime()
      val h = canonicalHash(q.run(spark, sfDir))
      (h, (System.nanoTime() - t0) / 1e9)
    }
    runBatch() // warm (codegen, parquet footers)
    val (cleanHash, cleanWall) = runBatch()
    println(f"batch clean:  wall=$cleanWall%6.2f s rows=${cleanHash._1} hash=${cleanHash._2}")

    // kill one executor at ~40% of the clean wall, mid-flight
    @volatile var killedPid = -1L
    @volatile var killedAtNs = 0L
    val killer = new Thread(() => {
      Thread.sleep(math.max(200L, (cleanWall * 0.4 * 1000).toLong))
      killedPid = killOneExecutor()
      killedAtNs = System.nanoTime()
    })
    val tk0 = System.nanoTime()
    killer.start()
    val killHash = canonicalHash(q.run(spark, sfDir))
    val killWall = (System.nanoTime() - tk0) / 1e9
    killer.join()
    require(killedPid > 0, "killer thread did not fire")
    val killLanded = (killedAtNs - tk0) / 1e9
    require(killLanded < killWall,
      f"kill landed at $killLanded%.2f s but the query ended at $killWall%.2f s — not mid-flight; rerun")
    println(f"batch killed: wall=$killWall%6.2f s rows=${killHash._1} hash=${killHash._2} " +
      f"(executor $killedPid SIGKILLed at $killLanded%.2f s; overhead ${killWall - cleanWall}%+.2f s)")
    require(killHash == cleanHash, "batch result diverged after executor loss")
    awaitExecutors(2)
    println(s"executors recovered: ${executorHandles().map(_.pid()).mkString(", ")}")

    // ---- (b) streaming arm: stateful interval join over day slices ----
    val slicesDir = new java.io.File(s"/tmp/graft-execkill-slices-${new java.io.File(sfDir).getName}")
    if (!new java.io.File(slicesDir, "_DONE").exists()) {
      slicesDir.mkdirs()
      val ev = Tables.table(spark, sfDir, "events")
        .select("event_id", "user_id", "event_type", "ts")
      val (lo, hi) = {
        val r = ev.agg(min(col("ts")), max(col("ts"))).collect()(0)
        (r.getTimestamp(0).getTime, r.getTimestamp(1).getTime)
      }
      val dayMs = 24L * 3600 * 1000
      val nSlices = ((hi - lo) / dayMs + 1).toInt
      for (d <- 0 until nSlices) {
        val tmp = new java.io.File(slicesDir, s"_stage-$d")
        ev.filter(unix_millis(col("ts")) >= lo + d.toLong * dayMs &&
            unix_millis(col("ts")) < lo + (d + 1).toLong * dayMs)
          .coalesce(1).write.mode("overwrite").parquet(tmp.getAbsolutePath)
        val part = tmp.listFiles().find(_.getName.endsWith(".parquet")).get
        val dst = new java.io.File(slicesDir, f"slice-$d%02d.parquet")
        java.nio.file.Files.move(part.toPath, dst.toPath,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
        require(dst.setLastModified(1000000000000L + d * 1000L))
        def rm(f: java.io.File): Unit = {
          Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
        }
        rm(tmp)
      }
      new java.io.File(slicesDir, "_DONE").createNewFile()
    }
    val sch = spark.read.parquet(slicesDir.getAbsolutePath).schema
    def sides(ev: DataFrame): (DataFrame, DataFrame) = (
      ev.filter(col("event_type") === "view")
        .select(col("user_id"), col("event_id").as("view_id"), col("ts").as("view_ts")),
      ev.filter(col("event_type") === "purchase")
        .select(col("user_id").as("buy_user_id"),
          col("event_id").as("purchase_id"), col("ts").as("buy_ts")))
    val (bv, bb) = sides(spark.read.parquet(slicesDir.getAbsolutePath))
    val truth = bv.join(bb,
      col("user_id") === col("buy_user_id") &&
        col("buy_ts") >= col("view_ts") &&
        col("buy_ts") <= col("view_ts") + expr("INTERVAL 6 hours")).count()
    println(s"stream truth (batch join): $truth matches")

    def runStream(killAtBatch: Option[Long]): (Long, Double) = {
      val matched = new java.util.concurrent.atomic.AtomicLong(0)
      val ckpt = java.nio.file.Files
        .createTempDirectory("graft-execkill-ckpt").toString
      val killed = new java.util.concurrent.atomic.AtomicBoolean(false)
      val t0 = System.nanoTime()
      val src = spark.readStream.schema(sch)
        .option("maxFilesPerTrigger", "1").parquet(slicesDir.getAbsolutePath)
      val (v, b) = sides(src)
      val joined = StreamOps.attributionJoin(v, b,
        maxDelay = "6 hours", watermark = "7 days")
      val q = joined.writeStream
        .option("checkpointLocation", ckpt)
        .foreachBatch { (batch: DataFrame, bid: Long) =>
          matched.addAndGet(batch.count())
          if (killAtBatch.contains(bid) && killed.compareAndSet(false, true)) {
            val pid = killOneExecutor()
            println(s"  killed executor $pid during stream batch $bid")
          }
          ()
        }
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      (matched.get(), (System.nanoTime() - t0) / 1e9)
    }
    val (cleanMatched, cleanSWall) = runStream(None)
    require(cleanMatched == truth, s"clean stream diverged: $cleanMatched vs $truth")
    awaitExecutors(2)
    val (killMatched, killSWall) = runStream(Some(3L))
    println(f"stream clean:  wall=$cleanSWall%6.2f s matched=$cleanMatched")
    println(f"stream killed: wall=$killSWall%6.2f s matched=$killMatched " +
      f"(overhead ${killSWall - cleanSWall}%+.2f s)")
    require(killMatched == truth, s"stream diverged after executor loss: $killMatched vs $truth")
    awaitExecutors(2)
    println("both arms identical after executor loss")
    spark.stop()
  }
}

package graft.ext

import org.apache.spark.sql.functions._

/** Child-JVM harness for `tools/StreamReplayProbe` (the kill-the-JVM
  * arm of the exactly-once streaming-ingest audit): lives in
  * `graft.ext` for [[IndexIO]] access; the tools object is the
  * process driver. `crash` phase arms `Runtime.halt(137)` at a
  * protocol kill point (or in the post-marker sink window for
  * kill < 0) inside batch 1's append and drives the loop until the
  * JVM dies; `resume` phase re-starts the SAME checkpoint in a fresh
  * JVM, finishes the generations, and verifies exactly-once
  * convergence (one live shard per batch, doc mass exact, serving ==
  * from-scratch rebuild). */
object ReplayHarness {

  private val Terms = Seq("fox", "spark", "jugs")
  private def doc(i: Long) = (i, s"fox spark jugs doc$i tok${i % 5}")

  /** Layout under `work`: src/ (generation parquet files), ckpt/
    * (durable checkpoint), idx/ (the index). */
  def child(work: String, kill: Int, resume: Boolean): Unit = {
    val spark = graft.Boot.session("graft-replay", "local[4]", 4)
    import spark.implicits._
    val src = s"$work/src"; val ckpt = s"$work/ckpt"; val idx = s"$work/idx"
    val gens = Seq(10L until 20L, 20L until 30L, 30L until 40L)
    if (!resume) {
      TextIndex.write((0L until 10L).map(doc).toDF("doc_id", "text"), idx)
      // one parquet file per generation, oldest mtime first — with
      // maxFilesPerTrigger=1 each is one micro-batch
      gens.zipWithIndex.foreach { case (g, i) =>
        val tmp = s"$work/_g$i"
        g.map(doc).toDF("doc_id", "text").coalesce(1)
          .write.mode("overwrite").parquet(tmp)
        val part = new java.io.File(tmp).listFiles()
          .find(_.getName.endsWith(".parquet")).get
        val dst = new java.io.File(src, f"gen-$i%02d.parquet")
        dst.getParentFile.mkdirs()
        java.nio.file.Files.move(part.toPath, dst.toPath)
        require(dst.setLastModified(1000000000000L + i * 1000L))
      }
    }
    val sch = spark.read.parquet(src).schema
    val docs = spark.readStream.schema(sch)
      .option("maxFilesPerTrigger", "1").parquet(src)
      .select(col("doc_id").cast("long").as("doc_id"), col("text"))

    // crash phase: arm the halt inside batch 1 (the mid-run batch)
    val curBatch = new java.util.concurrent.atomic.AtomicLong(-1)
    if (!resume && kill >= 0) {
      val n = new java.util.concurrent.atomic.AtomicInteger(0)
      IndexIO.crashHook = () =>
        if (curBatch.get() >= 1 && n.getAndIncrement() == kill)
          Runtime.getRuntime.halt(137)
    }
    val q = graft.streaming.StreamOps.bm25Loop(docs, idx, Terms, 50, 1.2, 0.75,
      checkpoint = Some(ckpt)) { (bid, topk) =>
      if (!resume && kill < 0 && bid == 1L) {
        // post-marker window: append + marker are durable, the
        // checkpoint commit for this batch is not — halt NOW
        Runtime.getRuntime.halt(137)
      }
      topk.count(); ()
    }
    // batch ids advance BEFORE the sink runs: foreachBatch hands us
    // (batch, bid) — but the crashHook needs the id during append,
    // which runs before our sink sees it; track via the wrapped source
    // progress instead (each file = one batch, ids are sequential)
    val lsn = new org.apache.spark.sql.streaming.StreamingQueryListener {
      override def onQueryStarted(e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryProgressEvent): Unit =
        curBatch.set(math.max(curBatch.get(), e.progress.batchId + 1))
    }
    spark.streams.addListener(lsn)
    q.processAllAvailable()
    q.stop()
    if (!resume) {
      // reachable only if the armed kill point exceeded the batch's
      // mutations — report a distinct rc so the driver flags it
      System.err.println("crash phase completed WITHOUT halting — kill point unreachable")
      spark.stop()
      sys.exit(3)
    }

    // resume phase: verify exactly-once convergence
    val live = IndexIO.liveCommittedIds(spark, idx)
    val dl = IndexIO.readCommitted(spark, idx, "doclens", live)
    val (distinct, total) = (dl.select("doc_id").distinct().count(), dl.count())
    val served = TextIndex.bm25TopK(spark, idx, Terms, 50, 1.2, 0.75)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq
    val refPath = s"$work/ref"
    TextIndex.write((0L until 40L).map(doc).toDF("doc_id", "text"), refPath)
    val ref = TextIndex.bm25TopK(spark, refPath, Terms, 50, 1.2, 0.75)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq
    println(s"resume verify: liveShards=${live.size} docMass=($distinct,$total) " +
      s"serveEqRebuild=${served == ref}")
    spark.stop()
    if (live.size != 4 || distinct != 40L || total != 40L || served != ref)
      sys.exit(4)
  }
}

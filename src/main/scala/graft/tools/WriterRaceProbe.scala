package graft.tools

import graft.ext.{IndexInspect, TextIndex}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** TWO-PROCESS writer race (VERDICT r16 task 6): every prior
  * concurrency artifact raced THREADS inside one JVM
  * (`ConcurrentMaintenanceSpec`) or mocked filesystem misbehavior
  * (`HostileFsSpec`); the claim/lease/marker protocol, however, claims
  * OBJECT-STORE-GRADE mutual exclusion between PROCESSES. This probe
  * executes that claim: a second real JVM (own SparkSession, own
  * driver, `ProcessBuilder` — nothing shared but the filesystem root)
  * appends batches against the SAME TextIndex root while this JVM
  * appends its own batches and runs maintenance folds mid-race.
  *
  * Asserted:
  *   1. every batch from both writers lands — serve over the shared
  *      root equals a sequentially-built reference index over the
  *      union of all batches (canonical hash);
  *   2. shard ids never collide (claimShardId's rename arbitration):
  *      each doc_id appears in exactly one live shard;
  *   3. a maintain racing the cross-process appends folds without
  *      losing or duplicating any writer's committed batch;
  *   4. MAINTAIN vs MAINTAIN across processes: the maintainer lock
  *      either serializes or fails the loser LOUDLY (the documented
  *      contract) — never two interleaved folds.
  *
  * Run:  sbt "runMain graft.tools.WriterRaceProbe [batchesPerWriter]"
  * (the worker role is internal: `WriterRaceProbe worker <root> <lo> <n>`).
  */
object WriterRaceProbe {

  private val Docs = 8 // docs per batch
  private def batch(spark: SparkSession, lo: Long): DataFrame = {
    import spark.implicits._
    (lo until lo + Docs)
      .map(i => (i, s"fox spark shared doc$i tok${i % 5}"))
      .toDF("doc_id", "text")
  }

  /** The second process: append `n` batches starting at id `lo`. */
  private def workerMain(root: String, lo: Long, n: Int): Unit = {
    val spark = graft.Boot.session("graft-writer-race-worker", "local[4]", 4)
    for (b <- 0 until n)
      TextIndex.append(batch(spark, lo + b * Docs), root, partitions = 1)
    // one cross-process MAINTAIN-vs-MAINTAIN attempt: the lock must
    // serialize or refuse loudly — both are the contract; what it must
    // never do is interleave two folds (assertion 1 would catch that
    // as lost/duplicated rows)
    val maintainOutcome =
      try { TextIndex.maintain(spark, root); "ran" }
      catch {
        case e: java.io.IOException if e.getMessage.contains("maint") =>
          "refused-loudly"
      }
    println(s"[worker] done: $n batches appended, maintain $maintainOutcome")
    spark.stop()
  }

  private def canonicalHash(df: DataFrame): (Long, String) = {
    val rows = df.collect().map(_.toString).sorted
    val md = java.security.MessageDigest.getInstance("MD5")
    rows.foreach(r => md.update(r.getBytes("UTF-8")))
    (rows.length.toLong, md.digest().map(b => f"$b%02x").mkString)
  }

  def main(args: Array[String]): Unit = {
    if (args.headOption.contains("worker")) {
      workerMain(args(1), args(2).toLong, args(3).toInt)
      return
    }
    val batches = args.headOption.map(_.toInt).getOrElse(6)
    val spark = graft.Boot.session("graft-writer-race", "local[4]", 4)
    import spark.implicits._

    val root = graft.core.TempDirs.create("graft-writer-race-") + "/idx"
    TextIndex.write(batch(spark, 0L), root, partitions = 1) // the shared base

    // launch the second writer: a REAL process, own JVM, own Spark
    val javaBin = s"${System.getProperty("java.home")}/bin/java"
    val cmd: Seq[String] = Seq(javaBin) ++ graft.Boot.addOpens.split(" ").toSeq ++
      Seq("-Xmx3g", "-cp", System.getProperty("java.class.path"),
        "graft.tools.WriterRaceProbe", "worker", root,
        (1000000L).toString, batches.toString)
    val pb = new ProcessBuilder(cmd: _*)
    pb.redirectErrorStream(true)
    val proc = pb.start()
    val drain = new Thread(() => {
      val r = new java.io.BufferedReader(
        new java.io.InputStreamReader(proc.getInputStream))
      var line = r.readLine()
      while (line != null) {
        if (line.contains("[worker]") || line.contains("Exception"))
          println(s"  worker> $line")
        line = r.readLine()
      }
    })
    drain.setDaemon(true); drain.start()

    // this JVM races its own appends + a mid-race maintain
    var maintained = 0
    for (b <- 0 until batches) {
      TextIndex.append(batch(spark, 2000000L + b * Docs), root, partitions = 1)
      if (b == batches / 2) {
        try { TextIndex.maintain(spark, root); maintained += 1 }
        catch {
          case e: java.io.IOException if e.getMessage.contains("maint") =>
            println("  coordinator maintain refused loudly (worker holds the lock)")
        }
      }
    }
    val exit = proc.waitFor()
    require(exit == 0, s"worker JVM exited $exit — cross-process append failed")

    // 1. serve equality against a sequentially-built reference
    val allDocs = batch(spark, 0L)
      .unionByName((0 until batches).map(b => batch(spark, 1000000L + b * Docs))
        .reduce(_ unionByName _))
      .unionByName((0 until batches).map(b => batch(spark, 2000000L + b * Docs))
        .reduce(_ unionByName _))
    val ref = graft.core.TempDirs.create("graft-writer-race-ref-") + "/idx"
    TextIndex.write(allDocs, ref, partitions = 1)
    val terms = Seq("fox", "tok3")
    val k = (1 + 2 * batches) * Docs // every live doc
    val got = canonicalHash(TextIndex.bm25TopK(spark, root, terms, k, 1.2, 0.75))
    val want = canonicalHash(TextIndex.bm25TopK(spark, ref, terms, k, 1.2, 0.75))
    println(s"racy  serve: n=${got._1} hash=${got._2}")
    println(s"clean serve: n=${want._1} hash=${want._2}")
    require(got == want,
      "cross-process race lost or duplicated a batch: serve != sequential reference")

    // 2. no doc appears in two live shards (claim arbitration held)
    val dupDocs = IndexInspect.readLiveCommitted(spark, root, "doclens")
      .groupBy("doc_id").agg(countDistinct(col("shard")).as("n"))
      .filter(col("n") > 1).count()
    require(dupDocs == 0, s"$dupDocs doc ids live in >1 shard — shard ids collided")

    println(s"writer race OK: 2 JVMs x $batches batches + base, " +
      s"${IndexInspect.liveShardCount(spark, root)} live shards, " +
      s"coordinator maintains ran=$maintained, serve == sequential reference")
    spark.stop()
  }
}

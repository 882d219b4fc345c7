package graft.tools

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._

/** Fixture scale-up: writes an N×-enlarged copy of an sf directory by
  * unioning id-shifted copies of each table (disjoint key ranges per
  * copy, referential integrity preserved by shifting foreign keys with
  * their parents). Dimension tables (region, nation) stay single-copy.
  *
  * `runMain graft.tools.ScaleUp <srcDir> <dstDir> [copies]`
  *
  * Purpose: scale-sanity runs above the largest driver-provided SF —
  * catch any operator whose cost curves worse than linearly before a
  * real cluster does. Not an oracle surface (the DuckDB gate runs on
  * the driver's own fixtures).
  */
object ScaleUp {

  /** Key-column shift strides per table; one stride per key FAMILY so
    * foreign keys move with their parents. */
  val shifts: Map[String, Map[String, Long]] = Map(
    "region" -> Map.empty,
    "nation" -> Map.empty,
    "customer" -> Map("c_custkey" -> 1000000L),
    "supplier" -> Map("s_suppkey" -> 100000L),
    "part" -> Map("p_partkey" -> 1000000L),
    "orders" -> Map("o_orderkey" -> 10000000L, "o_custkey" -> 1000000L),
    "lineitem" -> Map("l_orderkey" -> 10000000L, "l_partkey" -> 1000000L,
      "l_suppkey" -> 100000L),
    "events" -> Map("event_id" -> 10000000L, "user_id" -> 1000000L),
    "documents" -> Map("doc_id" -> 10000000L),
    "embeddings" -> Map("vec_id" -> 10000000L))

  def scaled(df: DataFrame, table: String, copies: Int): DataFrame = {
    val s = shifts(table)
    if (s.isEmpty) df
    else if (copies <= 16)
      (0 until copies).map { k =>
        s.foldLeft(df) { case (acc, (c, stride)) =>
          acc.withColumn(c, col(c) + lit(k * stride))
        }
      }.reduce(_ unionByName _)
    else {
      // high copy counts (the sf100 probe runs 1000) as a crossJoin
      // with a copy-index relation — a 1000-way union plan chokes
      // analysis/optimization; this is one narrow join with the same
      // rows (broadcast a 1-column LocalRelation of copy indices)
      val ks = broadcast(
        df.sparkSession.range(copies).toDF("__copy"))
      s.foldLeft(df.crossJoin(ks)) { case (acc, (c, stride)) =>
        acc.withColumn(c, col(c) + col("__copy") * lit(stride))
      }.drop("__copy")
    }
  }

  def main(args: Array[String]): Unit = {
    if (args.length < 2) {
      System.err.println("usage: runMain graft.tools.ScaleUp <srcDir> <dstDir> [copies]")
      sys.exit(2)
    }
    val (src, dst) = (args(0), args(1))
    val copies = if (args.length > 2) args(2).toInt else 10
    // events.ts is TIMESTAMP(NANOS): read AND write as raw nano longs
    // so the copy stays loadable through Tables.events unchanged
    val spark = graft.Boot.session("graft-scaleup",
      s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")}]", 32,
      "spark.sql.legacy.parquet.nanosAsLong" -> "true")
    // optional 4th arg: comma-list restricting which tables to write (a
    // targeted probe fixture — e.g. the sf100 shuffle probe only needs
    // documents + embeddings, not a 600M-row lineitem copy). A table
    // suffixed `:salt` gets a per-copy token appended to its text
    // column: the plain id-shifted copy makes every cross-copy pair a
    // TRUE near-duplicate, so pair-listing dedup queries (minhash LSH,
    // jaccard) have Θ(copies²) OUTPUT by construction — a fixture
    // artifact, not operator behavior. Salting suffixes EVERY token
    // with the copy index (a one-token salt is too weak: minhash
    // signatures barely move, bands still collide cross-copy), making
    // each copy a disjoint-vocabulary crawl slice whose INTERNAL
    // structure matches the original SF — duplicate-group sizes, and
    // thus the true pair count, scale LINEARLY with copies, the regime
    // a real 100 TB crawl is in.
    val tables = if (args.length > 3) args(3).split(",").toSeq
      else graft.queries.Tables.names
    tables.foreach { spec =>
      val salt = spec.endsWith(":salt")
      val t = spec.stripSuffix(":salt")
      val df = spark.read.parquet(s"$src/$t.parquet")
      val out =
        if (!salt) scaled(df, t, copies)
        else {
          // the copy index must derive from ONE key and ITS stride — on
          // a multi-key table, head's key paired with another key's
          // stride would salt per-row, not per-copy
          val (saltKey, stride) = shifts(t).minBy(_._2)
          val copyIdx = (col(saltKey) / lit(stride)).cast("long")
          scaled(df, t, copies).withColumn("text",
            regexp_replace(col("text"), lit("(\\S+)"),
              concat(lit("$1c"), copyIdx)))
        }
      // Write a SCAN-PARALLEL layout. The id-shifted clone data is
      // hyper-compressible (text identical across copies → parquet
      // dictionaries pack 100 copies into ~1×), so without this a
      // 150 MB-logical documents table lands as ONE ~5 MB file = ONE
      // input split, and every downstream corpus scan runs
      // single-task — the too-FEW-files twin of the small-files
      // problem, observed as a uniform ~5–15× inflation across the
      // sf10 scan tier in round 15. Row-balanced files keep task
      // parallelism tied to LOGICAL size, which is what the probe is
      // trying to measure.
      val parts = if (shifts(t).isEmpty) 1 else math.max(8, copies / 4)
      out.repartition(parts).write.mode(SaveMode.Overwrite)
        .parquet(s"$dst/$t.parquet")
      println(s"[scaleup] $t x${if (shifts(t).isEmpty) 1 else copies}" +
        s" ($parts files)" + (if (salt) " (salted)" else ""))
    }
    spark.stop()
  }
}

package graft.ext

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** AQE skew-join vs the manual salt (VERDICT r14 task 4): plants a
  * deterministic hot key, lowers the AQE skew thresholds to
  * fixture-scale, and proves (a) AQE actually SPLITS the hot partition
  * (`skew=true` in the final plan), (b) the AQE-split plain join, the
  * AQE-off plain join, and [[Skew.saltedJoin]] all agree exactly.
  *
  * When is the manual salt redundant? For a plain shuffle JOIN with AQE
  * on, it is: AQE splits the oversized partition at runtime (even a
  * single-key partition — the matching side's partition is replicated
  * per split), which is this suite's (a). The salt remains the tool
  * when AQE cannot act: AQE disabled (streaming micro-batch plans
  * disable it), a skewed AGGREGATION downstream of the join (AQE
  * skew-split applies to joins, not aggs — splitting a groupBy hot key
  * would break the agg), or the round-9 case where the skew sits under
  * another operator AQE won't re-shuffle. Measured arms at sf0.1 in
  * SCALE.md §Round-15 "AQE skew-join vs the manual salt".
  */
class AqeSkewSpec extends SparkSpec {

  import spark.implicits._

  private def withConf(pairs: (String, String)*)(body: => Unit): Unit = {
    val prev = pairs.map { case (k, _) => k -> spark.conf.getOption(k) }
    pairs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prev.foreach { case (k, o) =>
      o.fold(spark.conf.unset(k))(spark.conf.set(k, _))
    }
  }

  /** 60% of lineitem rows remapped to one hot suppkey (deterministic —
    * keyed on l_orderkey, not RNG), joined to supplier. */
  private def fixture(): (DataFrame, DataFrame) = {
    // repartition(16) gives the join's shuffle 16 MAP tasks: AQE splits
    // a skewed partition at map-output granularity, so a single-mapper
    // shuffle (one small parquet file → one scan task) is UNSPLITTABLE
    // no matter the thresholds — at real scale the fact side always has
    // thousands of mappers, which this emulates
    val li = spark.read.parquet(sf("sf0.01") + "/lineitem.parquet")
      .repartition(16)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
        when(col("l_orderkey") % 5 < 3, lit(1L))
          .otherwise(col("l_suppkey")).as("suppkey"))
    val supp = spark.read.parquet(sf("sf0.01") + "/supplier.parquet")
      .select(col("s_suppkey").as("suppkey"), col("s_name"))
    (li, supp)
  }

  private def digest(joined: DataFrame): Map[Long, (Long, Double)] =
    joined.groupBy("suppkey")
      .agg(count(lit(1)).as("n"), round(sum("l_quantity"), 4).as("sq"))
      .as[(Long, Long, Double)].collect()
      .map { case (k, n, s) => k -> ((n, s)) }.toMap

  test("AQE splits the planted hot partition and matches the salted join exactly") {
    val (li, supp) = fixture()
    var aqeSplit: Map[Long, (Long, Double)] = null
    var aqePlan: String = null
    withConf(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "8k",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "2k") {
      val joined = li.join(supp, "suppkey")
      // plan assert on a GLOBAL agg materialization: it does not pin the
      // join key's partitioning, so AQE is free to skew-split (the
      // per-key digest below is exactly the agg-after-join case where
      // it is not — see the second test). The agg keeps payload columns
      // alive — count(1) alone would prune the shuffle down to the key
      // and drop the hot partition under the byte threshold.
      val mat = joined.agg(count(lit(1)).as("n"), sum("l_quantity"),
        max("l_orderkey"), min("s_name"))
      mat.collect()
      aqePlan = mat.queryExecution.executedPlan.toString
      aqeSplit = digest(joined)
    }
    assert(aqePlan.contains("isFinalPlan=true"), aqePlan)
    assert(aqePlan.contains("skew=true"),
      s"AQE did not mark the join skewed — thresholds vs fixture drifted:\n$aqePlan")

    // manual salt, AQE off — the pre-AQE mitigation
    var salted: Map[Long, (Long, Double)] = null
    withConf(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.enabled" -> "false") {
      salted = digest(Skew.saltedJoin(li, supp, "suppkey", saltFactor = 8))
    }
    // plain join, AQE off — the unmitigated truth
    var plain: Map[Long, (Long, Double)] = null
    withConf(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.enabled" -> "false") {
      plain = digest(li.join(supp, "suppkey"))
    }
    assert(aqeSplit == plain, "AQE skew-split changed the join result")
    assert(salted == plain, "salted join changed the join result")
    assert(plain(1L)._1 > 30000L, s"hot key not hot: ${plain(1L)}")
  }

  test("the salt is NOT redundant where AQE cannot act: skewed agg-after-join keeps AQE whole") {
    // an aggregation ON THE JOIN KEY directly above the join pins the
    // partitioning — AQE must not split the hot partition (it would
    // break the agg), so the plan stays unsplit and salting (or
    // two-phase agg) remains the manual lever. This is the boundary
    // the Scaladoc documents; assert it so a Spark upgrade that
    // changes the boundary shows up here.
    val (li, supp) = fixture()
    withConf(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "32k",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "8k") {
      val agged = li.join(supp, "suppkey")
        .groupBy("suppkey").agg(sum("l_quantity").as("sq"))
      agged.collect()
      val plan = agged.queryExecution.executedPlan.toString
      assert(plan.contains("isFinalPlan=true"), plan)
      assert(!plan.contains("skew=true"),
        s"AQE split under a same-key agg — the documented boundary moved:\n$plan")
    }
  }
}

package graft.ext

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import java.sql.Timestamp

/** Executable scale guards: the plan-shape claims SCALE.md makes about
  * the scale-critical operators, asserted on the PHYSICAL plan so a
  * refactor that silently reintroduces a cartesian/nested-loop shape
  * (the classic way a "works on the fixture" change dies at 100 TB)
  * fails here instead of in production.
  */
class PlanShapeSpec extends SparkSpec {

  import spark.implicits._

  private def physical(df: DataFrame): String =
    df.queryExecution.executedPlan.toString

  private def assertNoProductJoin(plan: String, what: String): Unit = {
    assert(!plan.contains("CartesianProduct"), s"$what plan has a cartesian product")
    assert(!plan.contains("BroadcastNestedLoopJoin"), s"$what plan has a nested-loop join")
  }

  test("BM25 index serving pushes the term probe to the postings scan and joins nothing quadratic") {
    val path = java.nio.file.Files
      .createTempDirectory("graft-plan-tindex").toString + "/idx"
    TextIndex.write(Seq((1L, "spark scan merge"), (2L, "window scan"))
      .toDF("doc_id", "text"), path)
    // the DEFAULT route is the round-11 in-process serve: its "plan" is
    // a local result — no scan, no exchange, nothing to mis-shape
    val fastPlan = physical(
      TextIndex.bm25TopK(spark, path, Seq("spark", "scan"), 10, 1.2, 0.75))
    assert(fastPlan.contains("LocalTableScan") && !fastPlan.contains("Exchange"),
      s"default bm25 serve should be in-process:\n$fastPlan")
    // the distributed route (what over-bound probes run) keeps the
    // pushed-probe shape — force it through the A/B seam
    val served = {
      System.setProperty("graft.bm25.fast", "0")
      try TextIndex.bm25TopK(spark, path, Seq("spark", "scan"), 10, 1.2, 0.75)
      finally System.clearProperty("graft.bm25.fast")
    }
    val plan = physical(served)
    assert(!plan.contains("CartesianProduct"), "bm25TopK plan has a cartesian product")
    // exactly ONE nested-loop join is by design: the one-row corpus-stats
    // scalar broadcast; anything more would be a real product join
    assert("BroadcastNestedLoopJoin".r.findAllIn(plan).size <= 1,
      "bm25TopK plan has a non-scalar nested-loop join")
    // the term IN probe must reach the postings parquet scan — matched
    // structurally (an In over `term` carrying both probe terms), not
    // against an exact EXPLAIN render, which varies across Spark versions
    val pushedIn = "In\\(term, \\[[^\\]]*\\]".r.findAllIn(plan).toList
    assert(pushedIn.exists(s => s.contains("spark") && s.contains("scan")),
      s"term probe not pushed:\n${plan.linesIterator.filter(_.contains("PushedFilters")).mkString("\n")}")
  }

  test("forward job plan: the scan ranks with no hash exchange " +
      "(the scan cap's funnel only, top-k a TakeOrdered)") {
    import org.apache.spark.sql.types._
    import org.apache.spark.sql.Row
    val schema = StructType(Seq(
      StructField("id", LongType),
      StructField("name", StringType),
      StructField("tags", MapType(StringType, StringType)),
      StructField("wkt", StringType)))
    val rows = Seq(
      Row(1L, "Monograph Dining", Map("amenity" -> "restaurant"), "POINT(101.7 3.1)"),
      Row(2L, "Monogram Cafe", Map("amenity" -> "cafe"), "POINT(101.7 3.2)"),
      Row(3L, "Dining Hall", Map("tourism" -> "museum"), "POINT(103.8 1.3)"))
    val raw = spark.createDataFrame(spark.sparkContext.parallelize(rows), schema)
    val pois = graft.etl.GazetteerBuilder.buildPois(raw)
    val engine = new graft.query.ScoutEngine(spark, pois,
      graft.etl.GazetteerBuilder.buildAdmin(raw), graft.core.Settings(),
      nameIndex = Some(graft.etl.TrigramIndex.build(pois)))
    val ranked = engine.forwardDF(graft.query.ForwardReq(
      Seq(graft.query.ForwardCandidate("dining")), limit = 5))
    val plan = physical(ranked)
    // the forward job route (what a request the fast path declines
    // runs): ONE job with no HASH shuffle — the P5/P6 filter + score +
    // TakeOrdered over the capped scan. The single permitted exchange
    // is the P8 scan cap's SinglePartition funnel (GlobalLimit
    // limitScan — it moves at most limitScan narrow rows).
    assert(!plan.contains("Exchange hashpartitioning"),
      s"forward job plan hash-shuffles:\n$plan")
    assert("Exchange".r.findAllIn(plan).size <= 1,
      s"forward job plan has exchanges beyond the cap funnel:\n$plan")
    assert(plan.contains("TakeOrderedAndProject"),
      "top-k must be a TakeOrdered, not a global sort")
    assertNoProductJoin(plan, "forward job")
  }

  test("batch BM25 serving keeps the single-probe shape: pushed union-vocabulary IN, no product joins") {
    val path = java.nio.file.Files
      .createTempDirectory("graft-plan-tbatch").toString + "/idx"
    TextIndex.write(Seq((1L, "spark scan merge"), (2L, "window scan"))
      .toDF("doc_id", "text"), path)
    val queries = Seq(10L -> "spark", 10L -> "scan", 20L -> "scan")
      .toDF("query_id", "term")
    val served = TextIndex.bm25TopKBatch(spark, path, queries, 10, 1.2, 0.75)
    val plan = physical(served)
    assert(!plan.contains("CartesianProduct"), "bm25TopKBatch plan has a cartesian product")
    // same scalar-stats allowance as the single-query form
    assert("BroadcastNestedLoopJoin".r.findAllIn(plan).size <= 1,
      "bm25TopKBatch plan has a non-scalar nested-loop join")
    // the whole batch probes with ONE pushed union-vocabulary IN — not
    // one scan per query: at most TWO pruned probe scans total (the df
    // aggregate's broadcast side + the scoring side; plan reuse may fold
    // them to one), a count independent of how many queries ride the
    // batch. Matched structurally (an In over `term` whose value list
    // carries BOTH query vocabularies) rather than against an exact
    // EXPLAIN render, which varies across Spark versions.
    val pushedIn = "In\\(term, \\[[^\\]]*\\]".r.findAllIn(plan).toList
    assert(pushedIn.exists(s => s.contains("spark") && s.contains("scan")),
      s"union-vocabulary probe not pushed:\n${plan.linesIterator.filter(_.contains("PushedFilters")).mkString("\n")}")
    assert(pushedIn.nonEmpty && pushedIn.size <= 2,
      s"batch serving must probe the postings at most twice (df + scoring), " +
        s"regardless of batch size — saw ${pushedIn.size} probe scans")
  }

  test("phrase serving is a chain of (id,pos) equality joins over the pushed term probe") {
    val path = java.nio.file.Files
      .createTempDirectory("graft-plan-phrase").toString + "/idx"
    TextIndex.write(Seq((1L, "big order scan now"), (2L, "order scan"))
      .toDF("doc_id", "text"), path, withPositions = true)
    val plan = physical(TextIndex.phraseHits(spark, path, Seq("big", "order", "scan")))
    assertNoProductJoin(plan, "phraseHits")
    assert("In\\(term, \\[[^\\]]*\\]".r.findAllIn(plan)
      .exists(s => Seq("big", "order", "scan").forall(s.contains)),
      "phrase term probe not pushed to the positions scan")
  }

  test("bulk trigram candidate generation never degenerates to a product join") {
    val pois = Seq((1L, "monograph dining", ""), (2L, "dining hall", ""))
      .toDF("osm_id", "name_local_norm", "name_en_norm")
    val ix = graft.etl.TrigramIndex.build(pois)
    val queries = Seq((1L, Seq("dining")), (2L, Seq("mono", "dining")))
      .toDF("qid", "toks")
    val plan = physical(graft.etl.TrigramIndex.candidateIdsBulk(ix, queries))
    assertNoProductJoin(plan, "candidateIdsBulk")
  }

  test("interval join is an equality join on buckets, not a range nested-loop") {
    val points = Seq((1L, Timestamp.valueOf("2024-01-01 10:00:00"))).toDF("pid", "p_ts")
    val ivals = Seq((1L, Timestamp.valueOf("2024-01-01 09:00:00"),
      Timestamp.valueOf("2024-01-01 11:00:00"))).toDF("iid", "s_ts", "e_ts")
    val plan = physical(TimeJoins.intervalJoin(points, "p_ts", ivals, "s_ts", "e_ts", 1800))
    assertNoProductJoin(plan, "intervalJoin")
    // the naive formulation, for contrast, IS a nested loop — the thing
    // the bucketing exists to avoid
    val naive = physical(points.join(ivals,
      col("p_ts") >= col("s_ts") && col("p_ts") < col("e_ts")))
    assert(naive.contains("BroadcastNestedLoopJoin") || naive.contains("CartesianProduct"))
  }

  test("as-of join is a window scan: one shuffle by key, no join node at all") {
    val left = Seq((1L, 1L, Timestamp.valueOf("2024-01-01 10:00:00"), 1.0))
      .toDF("event_id", "user_id", "ts", "value")
    val right = Seq((1L, Timestamp.valueOf("2024-01-01 09:00:00"), 2.0))
      .toDF("user_id", "ts", "v")
    val plan = physical(TimeJoins.asofBackward(left, right, "user_id", "ts", Seq("v")))
    assert(!plan.contains("Join"), s"asofBackward should be join-free:\n$plan")
    assert(plan.contains("Window"))
  }

  test("per-group top-k is two bounded aggregates — no window, no per-group global sort") {
    val rows = (1 to 200).map(i => (s"g${i % 3}", (i * 37 % 101).toLong, i.toLong))
      .toDF("g", "v", "id")
    val top = TopK.perGroupTopK(rows.repartition(8), Seq("g"),
      struct(col("v"), col("id")), 5)
    val plan = physical(top)
    assert(!plan.contains("Window"),
      s"two-phase top-k reintroduced a per-group window sort:\n$plan")
    // and the queries built on it keep that shape
    for (q <- Seq(graft.queries.TextQueries.taTopTokens,
                  graft.queries.TextQueries.taSampleStratified)) {
      val p = physical(q.run(spark, sf("sf0.001")))
      assert(!p.contains("Window"), s"${q.name} plan has a window sort:\n$p")
    }
  }

  test("LSH/banding pair search joins on bucket equality, never all-pairs") {
    val docs = Seq((1L, "alpha beta gamma"), (2L, "alpha beta delta"))
      .toDF("doc_id", "text")
    val sig = Dedup.minhashSignature(
      Dedup.docTokens(docs, "doc_id", "text", distinct = false), 8)
    val plan = physical(Dedup.minhashLshPairs(sig, 8, rowsPerBand = 2))
    assertNoProductJoin(plan, "minhashLshPairs")
  }

  test("embedding near-dup candidates join on (band, bucket) equality, never all-pairs") {
    val emb = Seq((1L, Seq.fill(64)(0.5f)), (2L, Seq.fill(64)(0.5f)))
      .toDF("vec_id", "embedding")
      .withColumn("embedding", col("embedding").cast("array<float>"))
    val plan = physical(
      Similarity.nearDupPairs(emb, bands = 2, planesPerBand = 4, dim = 64,
        minCosine = 0.9))
    assertNoProductJoin(plan, "nearDupPairs")
  }

  test("multi-probe LSH stays a broadcast equality join on bucket — probe explosion never touches the corpus side") {
    val emb = Seq((1L, Seq.fill(64)(0.5f)), (2L, Seq.fill(64)(0.4f)),
      (3L, Seq.fill(64)(0.3f)))
      .toDF("vec_id", "embedding")
      .withColumn("embedding", col("embedding").cast("array<float>"))
    val plan = physical(Similarity.lshTopKMultiProbe(
      emb.filter(col("vec_id") === 1L), emb, k = 2, numPlanes = 8,
      dim = 64, probes = 9))
    assertNoProductJoin(plan, "lshTopKMultiProbe")
    assert(plan.contains("BroadcastHashJoin"),
      s"multi-probe candidates must broadcast the exploded query side:\n$plan")
    // same shape for the audit's probe-annotated candidate set
    val aPlan = physical(Similarity.lshProbeCandidates(
      emb.filter(col("vec_id") === 1L), emb, numPlanes = 8, dim = 64))
    assertNoProductJoin(aPlan, "lshProbeCandidates")
    assert(aPlan.contains("BroadcastHashJoin"),
      s"probe-candidate audit join must broadcast the query side:\n$aPlan")
  }

  test("gopher quality and rarity are aggregate-join plans: no window, no global sort of the corpus") {
    val dir = java.nio.file.Files.createTempDirectory("planshape").toString
    Seq((1L, "the quick brown fox", "en", "s", 19L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val gopher = physical(graft.queries.TextQueries2.taGopher.run(spark, dir))
    assert(!gopher.contains("Window"), s"gopher must not use a window:\n$gopher")
    assertNoProductJoin(gopher, "ta_gopher_quality")
    // rarity's one nested-loop is the 1-row corpus-total broadcast (a
    // scalar, the intended shape) — assert no cartesian and no window,
    // and that the only NLJ build side is a broadcast
    val rarity = physical(graft.queries.TextQueries2.taRarity.run(spark, dir))
    assert(!rarity.contains("Window"), s"rarity must not use a window:\n$rarity")
    assert(!rarity.contains("CartesianProduct"), s"rarity has a cartesian:\n$rarity")
  }

  test("semDedup's pairwise join is an equality join on cluster id, never all-pairs") {
    val emb = (1L to 20L).map(i => (i, Seq.fill(64)(i.toFloat / 20f)))
      .toDF("vec_id", "embedding")
      .withColumn("embedding", col("embedding").cast("array<float>"))
    val plan = physical(Similarity.semDedupKeep(emb, nCentroids = 4, minCosine = 0.9))
    // the ONLY cross join is corpus × broadcast centroids (bounded side);
    // the quadratic-risk self-join must be hash-equality on cid
    assert(!plan.contains("CartesianProduct"), s"semDedup has a cartesian:\n$plan")
    assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin") ||
      plan.contains("BroadcastHashJoin"),
      s"semDedup pair search should be an equality join:\n$plan")
  }

  test("bloom decontamination pre-filters the train scan before the exact join") {
    val docs = (1L to 30L).map(i => (i, s"a$i b$i c$i d$i e$i")).toDF("doc_id", "text")
    // an estimate > 2^20 asserts "large held-out set": forces the
    // sketch route without materializing one
    val plan = physical(
      Dedup.bloomDecontaminate(docs, "doc_id", "text", col("doc_id") % 10 === 0, n = 4,
        expectedTestShingles = (1L << 20) + 1))
    assertNoProductJoin(plan, "bloomDecontaminate")
    // the sketch filter must sit in the plan (a UDF filter node), i.e.
    // the exact join's left input is the bloom-positive subset
    assert(plan.contains("mightContain") || plan.contains("UDF"),
      s"bloom pre-filter missing from plan:\n$plan")
  }

  test("bloom decontamination takes the broadcast route for a small measured held-out set") {
    val docs = (1L to 30L).map(i => (i, s"a$i b$i c$i d$i e$i")).toDF("doc_id", "text")
    val pred = col("doc_id") % 10 === 0
    val small = Dedup.bloomDecontaminate(docs, "doc_id", "text", pred, n = 4)
    val plan = physical(small)
    assertNoProductJoin(plan, "bloomDecontaminate small route")
    // below the threshold the measured count routes to an exact
    // broadcast semi-join prefilter — no sketch, no UDF in the plan
    assert(!plan.contains("mightContain"),
      s"small held-out set must skip the bloom sketch:\n$plan")
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftSemi"),
      s"expected a broadcast left-semi prefilter:\n$plan")
    // and the two routes are row-equal: the sketch only ever pruned
    val viaSketch = Dedup.bloomDecontaminate(docs, "doc_id", "text", pred, n = 4,
      expectedTestShingles = (1L << 20) + 1)
    assert(small.orderBy("id").collect().toSeq ===
      viaSketch.orderBy("id").collect().toSeq)
  }

  test("pageRank per-iteration step is equality-join + partial aggregate") {
    val nodes = (0L to 9L).toDF("id")
    val edges = (0L to 9L).map(i => (i, (i + 1) % 10)).toDF("src", "dst")
    val plan = physical(Graphs.pageRankFixedPoint(nodes, edges, 1))
    assertNoProductJoin(plan, "pageRankFixedPoint")
  }

  test("chunkify is narrow end to end: no shuffle, no window, no join") {
    val docs = (1L to 50L).map(i => (i, s"a$i b$i c$i d$i")).toDF("doc_id", "text")
    val plan = physical(TextAnalysis.chunkify(docs, "text", 32, 8))
    assert(!plan.contains("Exchange"), s"chunkify must not shuffle:\n$plan")
    assert(!plan.contains("Window") && !plan.contains("Join"),
      s"chunkify must stay a per-row column program:\n$plan")
  }

  test("snapshot diff is one equality full-outer join, nothing quadratic") {
    val a = (1L to 30L).map(i => (i, s"t$i")).toDF("doc_id", "text")
    val b = (11L to 40L).map(i => (i, s"t$i")).toDF("doc_id", "text")
    val plan = physical(Dedup.snapshotDiff(a, b, "doc_id", "text"))
    assertNoProductJoin(plan, "snapshotDiff")
    assert(plan.contains("FullOuter"), s"expected a full-outer equality join:\n$plan")
  }

  test("TPC-H Q5 shape: dims broadcast, facts shuffle, date filters reach the scans") {
    val df = graft.queries.Relational2.all.find(_.name == "r25_tpch_q5").get
      .run(spark, sf("sf0.001"))
    val plan = physical(df)
    assertNoProductJoin(plan, "r25_tpch_q5")
    val broadcasts = "BroadcastHashJoin".r.findAllIn(plan).length
    assert(broadcasts >= 3,
      s"expected supplier/nation/region on the broadcast side, got $broadcasts:\n$plan")
    // the order-date range must be pushed to the parquet scan, not
    // applied post-join (PushedFilters on o_orderdate)
    assert(plan.contains("o_orderdate"), plan)
    assert("PushedFilters: \\[[^\\]]*o_orderdate".r.findFirstIn(plan).isDefined,
      s"o_orderdate range not pushed to the scan:\n$plan")
  }

  test("TPC-H Q5 under FINAL AQE plan: runtime re-planning does not un-broadcast the dim chains") {
    // the static-plan assert above could pass while AQE demotes a
    // broadcast at runtime (VERDICT r14 task 4) — assert the
    // isFinalPlan=true plan after execution
    val df = graft.queries.Relational2.all.find(_.name == "r25_tpch_q5").get
      .run(spark, sf("sf0.001"))
    df.collect()
    val plan = physical(df)
    assert(plan.contains("isFinalPlan=true"), s"AQE plan not finalized:\n$plan")
    assertNoProductJoin(plan, "r25_tpch_q5 (final AQE)")
    val broadcasts = "BroadcastHashJoin".r.findAllIn(plan).length
    assert(broadcasts >= 3,
      s"AQE un-broadcast a dimension chain, got $broadcasts:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"AQE re-planned a dim join to sort-merge:\n$plan")
  }

  test("TPC-H Q18 shape: the qualifying-order set joins broadcast, nothing quadratic") {
    val df = graft.queries.Relational3.all.find(_.name == "r28_tpch_q18").get
      .run(spark, sf("sf0.001"))
    df.collect() // AQE: broadcast decisions finalize at execution
    val plan = physical(df)
    assertNoProductJoin(plan, "r28_tpch_q18")
    assert(plan.contains("BroadcastHashJoin"),
      s"expected the tiny HAVING-qualified order set to broadcast:\n$plan")
  }

  test("profiling report reads the table ONCE (multi-distinct via Expand, not per-column scans)") {
    val df = graft.queries.Relational3.all.find(_.name == "r29_profile").get
      .run(spark, sf("sf0.001"))
    val plan = physical(df)
    val scans = "Scan parquet".r.findAllIn(plan).length
    assert(scans == 1, s"expected 1 parquet scan, got $scans:\n$plan")
    assert(plan.contains("Expand"), s"expected Expand for the distinct set:\n$plan")
  }

  test("bpe_count compiles INTO whole-stage codegen (a direct static call, not a fallback)") {
    val df = spark.read.parquet(sf("sf0.001") + "/documents.parquet")
      .select(col("doc_id"), graft.functions.bpeCount(col("text")).as("n_bpe"))
    val plan = physical(df)
    // codegen stages render as `*(n)` in the plan string
    assert(plan.contains("*(1) Project"), s"no codegen stage:\n$plan")
    // the generated Java must carry the static call — proof doGenCode
    // ran (a CodegenFallback would route through interpreted eval())
    val gen = org.apache.spark.sql.execution.debug
      .codegenString(df.queryExecution.executedPlan)
    assert(gen.contains("graft.core.Bpe.countTokens"),
      "generated code does not call Bpe.countTokens directly")
  }
}

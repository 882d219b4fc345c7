package graft.etl

import graft.SparkSpec
import graft.query.Repo
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

class TrigramIndexSpec extends SparkSpec {

  import spark.implicits._

  private lazy val pois: DataFrame = Seq(
    (1L, "monograph dining", "monograph dining"),
    (2L, "monogram cafe", ""),
    (3L, "dining hall museum", "dining hall"),
    (4L, "pasar seni", "central market"),
    (5L, "grand monorail dining station", "")
  ).toDF("osm_id", "name_local_norm", "name_en_norm")

  private lazy val index = TrigramIndex.build(pois)

  private def scanIds(tokens: Seq[String]): Set[Long] =
    pois.filter(Repo.likePredicate(tokens,
        Seq(col("name_local_norm"), col("name_en_norm"))))
      .select("osm_id").as[Long].collect().toSet

  private def indexIds(tokens: Seq[String]): Option[Set[Long]] =
    TrigramIndex.fetchCandidates(pois, index, tokens, None)
      .map(_.select("osm_id").as[Long].collect().toSet)

  test("index path returns exactly the scan-path results") {
    for (tokens <- Seq(
        Seq("dining"), Seq("mono"), Seq("mono", "dining"),
        Seq("market"), Seq("zzz"), Seq("ing", "hall"))) {
      assert(indexIds(tokens).contains(scanIds(tokens)), s"tokens=$tokens")
    }
  }

  test("substring (not whole-token) semantics are preserved") {
    // 'mono' is not a token anywhere, but is a substring of three names
    assert(indexIds(Seq("mono")).get == Set(1L, 2L, 5L))
    // grams spanning token boundaries ('h d' in 'monograph dining')
    assert(indexIds(Seq("ph din")).get == Set(1L))
  }

  test("short tokens fall back to the scan path (None)") {
    assert(TrigramIndex.fetchCandidates(pois, index, Seq("ab"), None).isEmpty)
    assert(TrigramIndex.fetchCandidates(pois, index, Seq("abc", "x"), None).isEmpty)
  }

  test("OR-across-columns semantics: match via the en name only") {
    assert(indexIds(Seq("central")).get == Set(4L))
  }

  test("candidateIdsBulk: superset per query; short tokens excluded, not query-killing") {
    val queries = Seq(
      (1L, Seq("dining")),                 // plain
      (2L, Seq("mono", "dining")),         // conjunction
      (3L, Seq("kl", "dining")),           // 'kl' < gram size -> excluded from the
                                           // conjunction, result stays a SUPERSET
      (4L, Seq("zzz"))                     // no match
    ).toDF("qid", "toks")
    val got = TrigramIndex.candidateIdsBulk(index, queries)
      .as[(Long, Long)].collect().groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    assert(got(1L) == scanIds(Seq("dining")))
    assert(got(2L) == scanIds(Seq("mono", "dining")))
    // superset of the exact conjunction (verify step re-filters)
    assert(scanIds(Seq("kl", "dining")).subsetOf(got.getOrElse(3L, Set.empty)))
    assert(got(3L) == scanIds(Seq("dining")))
    assert(!got.contains(4L))
  }

  test("maxDf cut: superset for ANY cut, exact after intersection with the scan predicate") {
    val queries = Seq(
      (1L, Seq("dining")),
      (2L, Seq("mono", "dining")),
      (3L, Seq("market")),
      (4L, Seq("zzz"))
    ).toDF("qid", "toks")
    // df=1 is the most aggressive legal cut: every token falls back to
    // its single rarest gram. Candidates may WIDEN, never narrow.
    for (maxDf <- Seq(1L, 2L, 100L)) {
      val got = TrigramIndex.candidateIdsBulk(index, queries, maxDf)
        .as[(Long, Long)].collect().groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
      assert(scanIds(Seq("dining")).subsetOf(got.getOrElse(1L, Set.empty)), s"maxDf=$maxDf")
      assert(scanIds(Seq("mono", "dining")).subsetOf(got.getOrElse(2L, Set.empty)), s"maxDf=$maxDf")
      assert(scanIds(Seq("market")).subsetOf(got.getOrElse(3L, Set.empty)), s"maxDf=$maxDf")
      // a token with NO matching gram still kills its query: absent
      // grams keep df 0 and are always kept by the cut
      assert(!got.contains(4L), s"maxDf=$maxDf")
    }
    // and a non-cutting maxDf reproduces the exact default-path result
    val loose = TrigramIndex.candidateIdsBulk(index, queries, 1000000L)
      .as[(Long, Long)].collect().toSet
    val dflt = TrigramIndex.candidateIdsBulk(index, queries)
      .as[(Long, Long)].collect().toSet
    assert(loose == dflt)
  }

  test("maxDf cut accepts a precomputed gram-df table (the persisted shape)") {
    val queries = Seq((1L, Seq("dining"))).toDF("qid", "toks")
    val dfs = TrigramIndex.gramDfOf(index).persist()
    val got = TrigramIndex.candidateIdsBulk(index, queries, 2L, Some(dfs))
      .as[(Long, Long)].collect().map(_._2).toSet
    assert(scanIds(Seq("dining")).subsetOf(got))
    dfs.unpersist()
  }

  private lazy val packedIx = TrigramIndex.packed(index)

  /** The packed probe's superset, narrowed by the exact P5 predicate. */
  private def packedIds(tokens: Seq[String]): Option[Set[Long]] =
    TrigramIndex.probeIds(packedIx, tokens).map(ids =>
      pois.filter(col("osm_id").isInCollection(ids.toSeq))
        .filter(Repo.likePredicate(tokens, Seq(col("name_local_norm"), col("name_en_norm"))))
        .select("osm_id").as[Long].collect().toSet)

  test("packed probe returns exactly the scan-path results") {
    for (tokens <- Seq(
        Seq("dining"), Seq("mono"), Seq("mono", "dining"),
        Seq("market"), Seq("zzz"), Seq("ing", "hall"),
        Seq("central"), Seq("ph din"))) {
      assert(packedIds(tokens).contains(scanIds(tokens)), s"tokens=$tokens")
    }
  }

  test("packed probe: short tokens fall back to the scan path (None)") {
    assert(packedIds(Seq("ab")).isEmpty)
    assert(packedIds(Seq("abc", "x")).isEmpty)
  }

  test("packed maxDf markers: cut grams skip their constraint (superset), " +
      "fully-ubiquitous tokens bail to the scan path") {
    // df=2 marks the most common grams NULL; the probe must still return
    // a SUPERSET of the scan result for every query (re-verify narrows)
    val cut = TrigramIndex.packed(index, maxDf = 2L)
    for (tokens <- Seq(Seq("dining"), Seq("mono", "dining"), Seq("market"))) {
      TrigramIndex.probeIds(cut, tokens) match {
        case Some(ids) => assert(scanIds(tokens).subsetOf(ids.toSet), s"tokens=$tokens")
        case None => () // every gram of some (token, column) cut: scan-path bail is legal
      }
    }
    // an absent gram still kills the token: zzz matches nothing
    assert(TrigramIndex.probeIds(cut, Seq("zzz")).exists(_.isEmpty))
    // df=0 marks EVERY present gram: nothing left to constrain -> bail
    assert(TrigramIndex.probeIds(TrigramIndex.packed(index, maxDf = 0L),
      Seq("dining")).isEmpty)
  }

  test("posting cache: a request with more distinct grams than maxGrams " +
      "still resolves (and matches the uncached probe)") {
    // round-9 ADVICE regression: with maxGrams below the request's gram
    // count, same-call entries evicted each other before the result was
    // read back through the LRU -> NPE (an opaque 422 on long queries).
    // The result must now build from a local map, eviction or not.
    val cache = new TrigramIndex.PostingCache(packedIx, maxGrams = 2)
    for (tokens <- Seq(
        Seq("monograph", "dining"), // 9 distinct grams >> 2
        Seq("mono"), Seq("ph din"), Seq("zzz"))) {
      assert(TrigramIndex.probeIdsCached(cache, tokens).map(_.toSet) ==
        TrigramIndex.probeIds(packedIx, tokens).map(_.toSet), s"tokens=$tokens")
    }
    // warm re-probe through the (thrashed) cache stays correct too
    assert(TrigramIndex.probeIdsCached(cache, Seq("monograph", "dining")).map(_.toSet) ==
      TrigramIndex.probeIds(packedIx, Seq("monograph", "dining")).map(_.toSet))
  }

  test("gram extraction") {
    assert(TrigramIndex.grams("abcd") == Seq("abc", "bcd"))
    assert(TrigramIndex.grams("ab").isEmpty)
    assert(TrigramIndex.grams(null).isEmpty)
  }

  test("widthFor routes with the data: coalesced under the gate, floor 8, then scales") {
    assert(TrigramIndex.widthFor(1L << 20) == 1)    // tiny → one sorted file
    assert(TrigramIndex.widthFor(64L << 20) == 1)   // at the gate → still 1
    assert(TrigramIndex.widthFor(200L << 20) == 8)  // just past → the floor
    assert(TrigramIndex.widthFor(10L << 30) == 80)  // 10 GB → ~128 MB/partition
    assert(TrigramIndex.widthFor(1L << 40) == 8192) // keeps scaling, no cap
  }
}

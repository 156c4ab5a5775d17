package graft

import org.apache.spark.sql.functions._
import graft.operators.Dedup

/** Exact + near-dup dedup: keep-first semantics, MinHash/LSH recall on
  * planted near-duplicates, SimHash hamming banding, Jaccard re-rank. */
class DedupSpec extends SparkSpec {
  import spark.implicits._

  private val base =
    "the quick brown fox jumps over the lazy dog while the cat watches from the warm windowsill nearby"

  test("exact: keep-first by lowest id, copy counts right") {
    val df = Seq((10L, "aaa"), (3L, "aaa"), (7L, "bbb")).toDF("doc_id", "text")
    val out = Dedup.exact(df, "doc_id", "text").collect()
    assert(out.length == 2)
    assert(out.map(r => (r.getLong(1), r.getLong(2))).toSet == Set((3L, 2L), (7L, 1L)))
  }

  test("minhash signature: identical text → identical signature, est jaccard 1.0") {
    val df = Seq((1L, base), (2L, base)).toDF("doc_id", "text")
    val pairs = Dedup.minhashLsh(df, "doc_id", "text").collect()
    assert(pairs.length == 1)
    assert(pairs.head.getDouble(2) == 1.0)
  }

  test("minhash LSH: planted near-duplicate found with high estimated jaccard") {
    val nearDup = base + " extra tail words"
    val far = "completely different content about spark catalyst optimizer rules and parquet row groups"
    val df = Seq((1L, base), (2L, nearDup), (3L, far)).toDF("doc_id", "text")
    val pairs = Dedup.minhashLsh(df, "doc_id", "text").collect()
    val p12 = pairs.find(r => r.getLong(0) == 1L && r.getLong(1) == 2L)
    assert(p12.isDefined, s"expected (1,2) pair in ${pairs.mkString(",")}")
    assert(p12.get.getDouble(2) > 0.5)
    assert(!pairs.exists(r => r.getLong(1) == 3L || r.getLong(0) == 3L))
  }

  test("minhash est jaccard tracks true jaccard within tolerance") {
    // ~50% shingle overlap by construction
    val half = base.split(" ").take(9).mkString(" ") +
      " entirely new second half with other words appended here now"
    val df = Seq((1L, base), (2L, half)).toDF("doc_id", "text")
    val sh1 = Dedup.shingles(base, 3).toSet
    val sh2 = Dedup.shingles(half, 3).toSet
    val trueJ = sh1.intersect(sh2).size.toDouble / sh1.union(sh2).size
    val pairs = Dedup.minhashLsh(df, "doc_id", "text").collect()
    if (pairs.nonEmpty) { // banding may or may not surface a low-J pair
      assert(math.abs(pairs.head.getDouble(2) - trueJ) < 0.25)
    }
  }

  test("ngramJaccard: exact re-rank of LSH candidates") {
    val nearDup = base + " tail"
    val df = Seq((1L, base), (2L, nearDup)).toDF("doc_id", "text")
    val cands = Seq((1L, 2L)).toDF("doc_id_a", "doc_id_b")
    val out = Dedup.ngramJaccard(df, "doc_id", "text", cands, threshold = 0.1).collect()
    assert(out.length == 1)
    val sh1 = Dedup.shingles(base, 3).toSet
    val sh2 = Dedup.shingles(nearDup, 3).toSet
    val expected = sh1.intersect(sh2).size.toDouble / sh1.union(sh2).size
    assert(math.abs(out.head.getDouble(2) - expected) < 1e-12)
  }

  test("simhash: identical → distance 0; near-dup small distance; unrelated not paired") {
    val nearDup = base.replace("lazy", "sleepy")
    val far = "numbers 111 222 333 444 555 666 777 888 999 000 aaa bbb ccc ddd eee fff"
    val df = Seq((1L, base), (2L, base), (3L, nearDup), (4L, far)).toDF("doc_id", "text")
    val pairs = Dedup.simhashPairsPortable(df, "doc_id", "text", maxHamming = 10).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getInt(2))).toMap
    // the band join reports exactly the signature distance, and emits
    // every pair within the radius and nothing beyond it
    val md = java.security.MessageDigest.getInstance("MD5")
    val sig = df.as[(Long, String)].collect()
      .map { case (id, t) => id -> Dedup.simhashMd5(t, md) }.toMap
    val truth = (for (a <- sig.keys; b <- sig.keys if a < b;
                      d = java.lang.Long.bitCount(sig(a) ^ sig(b)) if d <= 10)
      yield (a, b) -> d).toMap
    assert(pairs == truth, s"$pairs vs $truth")
    assert(pairs((1L, 2L)) == 0)
    assert(pairs.get((1L, 3L)).exists(_ <= 10))
    assert(!pairs.keySet.exists(k => k._1 == 4L || k._2 == 4L))
  }

  test("simhashPairsPortable: recall holds for maxHamming > 3 (banding widens with the radius)") {
    // force two signatures at an exact known Hamming distance by planting
    // ids whose simhashes we compute directly, then verify the pair surfaces
    val a = "alpha beta gamma delta epsilon zeta eta theta"
    // flipping words changes several bits; measure the true distance first
    val b = "alpha beta gamma delta epsilon zeta eta kappa"
    val md = java.security.MessageDigest.getInstance("MD5")
    val d = java.lang.Long.bitCount(Dedup.simhashMd5(a, md) ^ Dedup.simhashMd5(b, md))
    assert(d > 3 && d <= 20, s"need a mid-distance pair, got $d") // text pair chosen to land here (d = 8)
    val df = Seq((1L, a), (2L, b)).toDF("doc_id", "text")
    val pairs = Dedup.simhashPairsPortable(df, "doc_id", "text", maxHamming = d).collect()
    assert(pairs.exists(r => r.getLong(0) == 1L && r.getLong(1) == 2L && r.getInt(2) == d),
      s"pair at hamming $d missing: ${pairs.mkString(",")}")
  }

  test("simhashMd5: single-token signature IS the md5 token hash (pins the DuckDB md5_number_upper convention)") {
    val md = java.security.MessageDigest.getInstance("MD5")
    // one token ⇒ every bit vote is ±1 from that token alone ⇒ sig == h;
    // DuckDB: SELECT md5_number_upper('abc') = 12704604231530709392
    // (first 8 md5 bytes, little-endian) — the q25 oracle's exact value
    assert(Dedup.simhashMd5("abc", md) ==
      java.lang.Long.parseUnsignedLong("12704604231530709392"))
    // case fold + whitespace split mirror the SQL lower + \S+ extraction
    assert(Dedup.simhashMd5("  ABC  ", md) == Dedup.simhashMd5("abc", md))
    assert(Dedup.simhashMd5("", md) == 0L, "no tokens → all votes 0 → sign fold 0")
  }

  test("simhashPairsPortable: identical docs pair at 0; cross-container recall like the fnv variant") {
    val nearDup = base.replace("lazy", "sleepy")
    val far = "numbers 111 222 333 444 555 666 777 888 999 000 aaa bbb ccc ddd eee fff"
    val df = Seq((1L, base), (2L, base), (3L, nearDup), (4L, far)).toDF("doc_id", "text")
    val pairs = Dedup.simhashPairsPortable(df, "doc_id", "text", maxHamming = 10)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getInt(2))).toMap
    assert(pairs((1L, 2L)) == 0)
    assert(pairs.get((1L, 3L)).exists(_ <= 10))
    assert(!pairs.keySet.exists(k => k._1 == 4L || k._2 == 4L))
  }

  test("shingles: short text degrades to one whole-text shingle") {
    assert(Dedup.shingles("one two", 3).length == 1)
  }

  test("connectedComponents: chains collapse to min label, islands stay apart") {
    // chain 1-2-3-4 (diameter 3, needs >1 round), pair 10-11, and 20-21-22 star
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L), (20L, 21L), (20L, 22L))
      .toDF("doc_id_a", "doc_id_b")
    val cc = Dedup.connectedComponents(pairs, "doc_id_a", "doc_id_b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cc == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 20L -> 20L, 21L -> 20L, 22L -> 20L), cc.toString)
  }

  test("connectedComponentsStar: agrees with min-label CC, converges on a deep chain") {
    // a 60-node path (diameter 59) — label propagation's pathological case,
    // the star algorithm's motivating one; plus an island and a singleton-ish pair
    val chain = (0L until 59L).map(i => (i, i + 1))
    val pairs = (chain ++ Seq((100L, 101L), (200L, 201L), (200L, 202L)))
      .toDF("a", "b")
    val star = Dedup.connectedComponentsStar(pairs, "a", "b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val expected = (0L to 59L).map(_ -> 0L).toMap ++
      Map(100L -> 100L, 101L -> 100L, 200L -> 200L, 201L -> 200L, 202L -> 200L)
    assert(star == expected, star.toString)
  }

  test("connectedComponentsStar: planted mega-hub takes the bounded-set fallback, result identical") {
    // star of 30 leaves around node 0 plus a chain welded on — with
    // hubCap = 4 the hub apex overflows every round and streams through
    // the join fallback; the labeling must match both the unbounded run
    // and plain min-label CC
    val hub = (1L to 30L).map(l => (0L, l))
    val chain = (30L until 36L).map(i => (i, i + 1))
    val pairs = (hub ++ chain ++ Seq((100L, 101L))).toDF("a", "b")
    val bounded = Dedup.connectedComponentsStar(pairs, "a", "b", hubCap = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val unbounded = Dedup.connectedComponentsStar(pairs, "a", "b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val plain = Dedup.connectedComponents(pairs, "a", "b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(bounded == unbounded, s"$bounded vs $unbounded")
    assert(bounded == plain, s"$bounded vs $plain")
    // random graphs under an adversarially tiny cap: every apex overflows,
    // the whole round runs through the fallback path — still identical
    val rnd = new scala.util.Random(13L)
    val edges = Seq.fill(120)((rnd.nextInt(30).toLong, rnd.nextInt(30).toLong))
      .filter { case (a, b) => a != b }
    val p2 = edges.toDF("a", "b")
    val b2 = Dedup.connectedComponentsStar(p2, "a", "b", hubCap = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val u2 = Dedup.connectedComponentsStar(p2, "a", "b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(b2 == u2, s"$b2 vs $u2")
  }

  test("connectedComponentsStar ≡ connectedComponents on seeded random graphs") {
    val rnd = new scala.util.Random(7L)
    for (trial <- 1 to 3) {
      val n = 40 + trial * 20
      val edges = Seq.fill(n)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter { case (a, b) => a != b }
      val pairs = edges.toDF("a", "b")
      val viaLabels = Dedup.connectedComponents(pairs, "a", "b")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val viaStars = Dedup.connectedComponentsStar(pairs, "a", "b")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(viaStars == viaLabels, s"trial $trial: $viaStars vs $viaLabels")
    }
  }

  test("connectedComponents feeds keep-first dedup: one representative per cluster") {
    val pairs = Seq((5L, 3L), (3L, 9L)).toDF("a", "b")
    val cc = Dedup.connectedComponents(pairs, "a", "b")
    val keep = cc.groupBy("cluster_id").agg(min("node").as("keep_id"))
      .collect().map(_.getLong(1)).toSeq
    assert(keep == Seq(3L)) // {3,5,9} → keep 3
  }

  test("fuzzyPairs: prefix OR suffix block catches edits at either end, once") {
    val df = Seq(
      (1L, "red widget"), (2L, "red widgot"),   // dist 1: prefix block (suffix differs)
      (3L, "blue bolt"), (4L, "blue belt"),     // dist 1: prefix block
      (5L, "red gasket"),                        // prefix-blocks with 1,2 but dist > 2
      (6L, "ted widget"),                        // dist 1 from 1: caught by SUFFIX block
      (7L, "zzz unrelated zzz")
    ).toDF("id", "name")
    val out = Dedup.fuzzyPairs(df, "id", "name", maxDist = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(4))).toSeq
    // (2,6) 'red widgot'/'ted widget' is dist 2 but differs in BOTH the
    // first-4 and last-4 chars — the documented residual blocking miss
    assert(out == Seq((1L, 2L, 1), (1L, 6L, 1), (3L, 4L, 1)), out.toString)
  }

  test("substringPairs: docs sharing a long span pair up; hot frames are capped out") {
    val span = ("x" * 35) + "shared-long-span-of-text-" + ("y" * 40) // > 40 chars, aligned frames
    val df = Seq(
      (1L, "unique prefix one   " + span),
      (2L, "unique prefix two   " + span), // same span at the SAME offset → same frames
      (3L, "totally different text " + ("z" * 80)),
      (4L, "short")
    ).toDF("doc_id", "text")
    val out = Dedup.substringPairs(df, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(out == Seq((1L, 2L)), out.toString)
    // maxDocs=1 drops every frame (all appear in ≥2 docs) → no pairs survive
    val capped = Dedup.substringPairs(df, "doc_id", "text", maxDocs = 1)
    assert(capped.isEmpty)
  }

  test("goldenRecords: longest-name member elected canonical, size audited") {
    val records = Seq(
      (1L, "acme corp"), (2L, "acme corpz"),   // cluster {1,2}: 2 has the longer name
      (5L, "zeta"),                            // singleton — not reported
      (7L, "beta inc"), (9L, "beta inx")       // cluster {7,9}: equal length → min id 7
    ).toDF("id", "name")
    val pairs = Seq((1L, 2L), (7L, 9L)).toDF("id_a", "id_b")
    val out = Dedup.goldenRecords(records, "id", "name", pairs)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getString(2), r.getLong(3)))).toMap
    assert(out == Map(
      1L -> ((2L, "acme corpz", 2L)),
      7L -> ((7L, "beta inc", 2L))), out.toString)
  }

  test("sortedNeighborhoodPairs: adjacent-after-sort pairs found; window bounds comparisons") {
    val df = Seq(
      (1L, "aluminum widget"),
      (2L, "aluminum widgot"),  // mid-string typo: same prefix AND changed suffix
      (3L, "zinc bracket"),
      (4L, "zinc brocket"),
      (9L, "mmmmm unrelated")   // sorts between the clusters
    ).toDF("id", "name")
    val out = Dedup.sortedNeighborhoodPairs(df, "id", "name", windowSize = 4, maxDist = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(out == Seq((1L, 2L), (3L, 4L)), out.toString)
    // windowSize 1 means zero lookahead — no pairs at all
    assert(Dedup.sortedNeighborhoodPairs(df, "id", "name", windowSize = 1, maxDist = 2).isEmpty)
  }

  test("duplicatedSpans: overlapping hit frames merge; separated spans count twice") {
    val shared1 = "A" * 60                    // one 60-char shared run
    val shared2 = "B" * 45                    // a second, separate shared run
    val doc1 = shared1 + ("x" * 40) + shared2 // unique filler between
    val doc2 = shared1 + ("y" * 40) + shared2 // same offsets, different filler
    val df = Seq((1L, doc1), (2L, doc2), (3L, "z" * 200)).toDF("doc_id", "text")
    val out = Dedup.duplicatedSpans(df, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(!out.contains(3L), out.toString)           // nothing shared → absent
    // both docs report the same two merged spans; each span's frames chain
    assert(out(1L)._1 == 2L && out(1L) == out(2L), out.toString)
    // total duplicated mass is bounded by the shared material + frame width
    assert(out(1L)._2 >= 60L && out(1L)._2 <= 145L, out.toString)
  }

  test("LSH plan contains no cartesian/all-pairs stage") {
    val df = Seq((1L, base), (2L, base + " x")).toDF("doc_id", "text")
    val plan = Dedup.minhashLsh(df, "doc_id", "text").queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("setSimilarityJoin: exact jaccard values, threshold respected") {
    val nearDup = base + " extra tail words"
    val far = "completely different content about spark catalyst optimizer rules and parquet row groups"
    val df = Seq((1L, base), (2L, nearDup), (3L, far)).toDF("doc_id", "text")
    val s1 = Dedup.shingles(base, 3).toSet
    val s2 = Dedup.shingles(nearDup, 3).toSet
    val expected = s1.intersect(s2).size.toDouble / s1.union(s2).size
    val out = Dedup.setSimilarityJoin(df, "doc_id", "text", 0.5).collect()
    assert(out.length == 1, out.mkString(","))
    assert(out.head.getLong(0) == 1L && out.head.getLong(1) == 2L)
    assert(out.head.getDouble(2) == expected)
  }

  test("setSimilarityJoin: prefix filter finds every pair brute force finds") {
    // corpus with controlled overlap tiers; compare against a local
    // brute-force truth at the same shingling
    val docs = (0 until 30).map { i =>
      val core = (0 until 12).map(j => s"w${(i / 3) * 12 + j}") // 3 docs share a core
      val salt = Seq(s"u${i}a", s"u${i}b")
      (i.toLong, (core ++ salt).mkString(" "))
    }
    val df = docs.toDF("doc_id", "text")
    val truth = for {
      (ia, ta) <- docs; (ib, tb) <- docs if ia < ib
      sa = Dedup.shingles(ta, 3).toSet; sb = Dedup.shingles(tb, 3).toSet
      j = sa.intersect(sb).size.toDouble / sa.union(sb).size if j >= 0.5
    } yield (ia, ib)
    assert(truth.nonEmpty) // the tiers guarantee matching pairs exist
    val got = Dedup.setSimilarityJoin(df, "doc_id", "text", 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == truth.toSet, s"got=$got truth=${truth.toSet}")
  }

  test("setSimilarityJoin plan: no cartesian, no all-pairs") {
    val df = Seq((1L, base), (2L, base + " x")).toDF("doc_id", "text")
    val plan = Dedup.setSimilarityJoin(df, "doc_id", "text", 0.5)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("sparseDocCosine: exact dup scores 1.0, disjoint docs never pair") {
    val docs = Seq(
      (1L, "alpha beta gamma delta"),
      (2L, "alpha beta gamma delta"),
      (3L, "zeta eta theta iota")).toDF("doc_id", "text")
    val out = Dedup.sparseDocCosine(docs, "doc_id", "text").collect()
    assert(out.length == 1, out.mkString(","))
    assert(out.head.getLong(0) == 1L && out.head.getLong(1) == 2L)
    // an ulp above 1 is legitimate (√3·√3 rounds below 3) — and identical
    // in DuckDB, which runs the same op sequence
    assert(math.abs(out.head.getDouble(2) - 1.0) < 1e-12)
  }

  test("sparseDocCosine: stop-gram cap removes corpus-wide grams from the space") {
    val docs = Seq(
      (1L, "common word alpha beta"),
      (2L, "common word alpha beta"),
      (3L, "common word zeta eta")).toDF("doc_id", "text")
    // "common word" has df 3 > maxDf 2 → pruned; docs 3 shares ONLY that
    // gram with 1/2, so the only surviving pair is the true dup (1,2)
    val pruned = Dedup.sparseDocCosine(docs, "doc_id", "text", maxDf = 2, threshold = 0.1)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pruned == Set((1L, 2L)), pruned.toString)
  }

  test("containmentRerank: subset duplication is asymmetric; Jaccard would miss it") {
    // doc 2 = doc 1 plus a long unrelated tail: C(1->2) = 1, C(2->1) small,
    // Jaccard small — the exact case the operator exists for
    val tail = (1 to 60).map(i => s"filler$i").mkString(" ")
    val docs = Seq(
      (1L, base),
      (2L, s"$base $tail"),
      (3L, "a completely different text about nothing in particular")).toDF("doc_id", "text")
    val cands = Seq((1L, 2L), (1L, 3L)).toDF("doc_id_a", "doc_id_b")
    val out = Dedup.containmentRerank(docs, "doc_id", "text", cands, threshold = 0.8)
      .collect()
    assert(out.length == 1 && out(0).getLong(0) == 1L && out(0).getLong(1) == 2L)
    assert(out(0).getDouble(2) == 1.0)          // every shingle of 1 is in 2
    assert(out(0).getDouble(3) < 0.5)           // 2 is NOT inside 1
    // the same pair fails a Jaccard re-rank at the same bar
    val j = Dedup.ngramJaccard(docs, "doc_id", "text", cands, threshold = 0.8)
    assert(j.count() == 0)
  }

  test("canonicalPerCluster: max score wins, score ties go to lowest id, singleton clusters survive") {
    val clusters = Seq((1L, 1L), (2L, 1L), (3L, 1L), (7L, 7L), (8L, 7L), (9L, 9L))
      .toDF("node", "cluster_id")
    val quality = Seq((1L, 5.0), (2L, 9.0), (3L, 7.0),
      (7L, 4.0), (8L, 4.0), (9L, 1.0)).toDF("id", "score")
    val out = Dedup.canonicalPerCluster(clusters, "node", "cluster_id",
        quality, "id", "score")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(out(1L) == ((3L, 2L, 9.0)), out.toString)  // clear max
    assert(out(7L) == ((2L, 7L, 4.0)), out.toString)  // tie 4.0 → lowest id 7
    assert(out(9L) == ((1L, 9L, 1.0)), out.toString)  // singleton
    // one hash aggregate, repartition-invariant
    val p = Dedup.canonicalPerCluster(clusters.repartition(5), "node", "cluster_id",
        quality.repartition(3), "id", "score")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(p == out)
  }

  test("linkageScore: all-agree tops all-disagree, hand log-odds exact, nulls agree null-safely") {
    val pairs = Seq((1L, 2L), (1L, 3L), (4L, 5L)).toDF("id_a", "id_b")
    val recs = Seq(
      (1L, "B1", "T1"), (2L, "B1", "T1"),       // full agreement
      (3L, "B2", "T1"),                          // brand differs
      (4L, null.asInstanceOf[String], "T9"), (5L, null, "T9") // null brand BOTH → agree
    ).toDF("id", "brand", "ptype")
    val fields = Seq(("brand", 0.9, 0.1), ("ptype", 0.8, 0.2))
    val out = Dedup.linkageScore(pairs, "id_a", "id_b", recs, "id", fields)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> ((r.getLong(2), r.getDouble(3)))).toMap
    def q(x: Double) = BigDecimal(x).setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
    val wB = q(math.log(0.9 / 0.1)); val wBd = q(math.log((1 - 0.9) / (1 - 0.1)))
    val wT = q(math.log(0.8 / 0.2))
    // decimal-sum-then-double vs double-sum can differ in the last ulp —
    // compare within 1e-12 (the oracle mirrors the decimal sum exactly)
    assert(out((1L, 2L))._1 == 2L && math.abs(out((1L, 2L))._2 - (wB + wT)) < 1e-12,
      s"${out((1L, 2L))} vs ${wB + wT}")
    assert(out((1L, 3L))._1 == 1L && math.abs(out((1L, 3L))._2 - (wBd + wT)) < 1e-12,
      out.toString)
    assert(out((4L, 5L))._1 == 2L) // null <=> null counts as agreement
    assert(out((1L, 2L))._2 > out((1L, 3L))._2)
    // invalid params rejected (u >= m breaks the log-odds sign convention)
    intercept[IllegalArgumentException] {
      Dedup.linkageScore(pairs, "id_a", "id_b", recs, "id", Seq(("brand", 0.5, 0.5)))
    }
  }

  test("blockingQuality: orientation-proof counting, PC/RR arithmetic, empty truth → null PC") {
    val cands = Seq((1L, 2L), (4L, 3L), (5L, 6L), (6L, 5L)).toDF("a", "b") // 3 distinct
    val truth = Seq((2L, 1L), (7L, 8L)).toDF("ta", "tb")
    val r = Dedup.blockingQuality(cands, "a", "b", truth, "ta", "tb", 10L).head()
    assert((r.getLong(0), r.getLong(1), r.getLong(2)) == ((3L, 2L, 1L)))
    assert(r.getDouble(3) == 0.5)                       // 1 of 2 true pairs found
    assert(r.getDouble(4) == 1.0 - 3.0 / 45.0)          // 45 possible pairs
    val e = Dedup.blockingQuality(cands, "a", "b",
      truth.limit(0), "ta", "tb", 10L).head()
    assert(e.isNullAt(3) && e.getLong(2) == 0L)
  }

  test("dedupReportBySource: exact vs canonical dup rates split correctly per source") {
    val df = Seq(
      ("s1", 1L, "alpha"), ("s1", 2L, "alpha"),   // byte-exact dup
      ("s1", 3L, "ALPHA"),                        // only canonicalization sees it
      ("s1", 4L, "beta"),
      ("s2", 5L, "gamma"), ("s2", 6L, "delta")    // clean source
    ).toDF("source", "doc_id", "text")
    val out = Dedup.dedupReportBySource(df, "source", "doc_id", "text")
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(out("s1") == ((4L, 3L, 2L)), out.toString) // 4 raw, 3 exact-unique, 2 canonical
    assert(out("s2") == ((2L, 2L, 2L)), out.toString)
  }

  test("incremental LSH: new batch probes the prebuilt index; near-dup and exact copies found, fresh docs not") {
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again today"),
      (2L, "completely different content about spark partitions and shuffles here"),
      (3L, "yet another unrelated document concerning parquet column pruning")
    ).toDF("doc_id", "text")
    val newBatch = Seq(
      (101L, "the quick brown fox jumps over the lazy dog again and again today extra"),
      (102L, "completely different content about spark partitions and shuffles here"),
      (103L, "brand new text that matches nothing in the existing corpus at all")
    ).toDF("doc_id", "text")
    val index = Dedup.minhashBandIndex(corpus, "doc_id", "text")
    val cands = Dedup.minhashCandidatesAgainstIndex(newBatch, "doc_id", "text", index)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(cands.contains((1L, 101L)) && cands.contains((2L, 102L)), cands.toString)
    assert(!cands.exists(_._2 == 103L), cands.toString)
    // probing with mismatched parameters finds nothing (content-addressed)
    val wrongSeed = Dedup.minhashCandidatesAgainstIndex(newBatch, "doc_id", "text",
      index, seed = 7L)
    assert(wrongSeed.count() == 0)
  }

  test("normalizedExact: composed/decomposed/case variants collapse; distinct texts do not") {
    val composed = "résumé alpha"       // é as single code point
    val decomposed = "résumé alpha"   // e + combining acute
    val df = Seq(
      (1L, composed), (2L, decomposed), (3L, composed.toUpperCase),
      (4L, "plain text"), (5L, "plain text"), (6L, "other")
    ).toDF("doc_id", "text")
    val out = Dedup.normalizedExact(df, "doc_id", "text")
      .collect().map(r => r.getLong(1) -> r.getLong(2)).toMap
    assert(out == Map(1L -> 3L, 4L -> 2L, 6L -> 1L), out.toString)
    // byte-exact dedup sees all three résumé variants as different
    assert(Dedup.exact(df, "doc_id", "text").count() == 5)
  }

  test("linkageEmRound: matches the hand-computed E/M step on a 2-pair, 1-field case") {
    val recs = Seq((1L, "x"), (2L, "x"), (3L, "x"), (4L, "y"))
      .toDF("id", "brand")
    val pairs = Seq((1L, 2L), (3L, 4L)).toDF("id_a", "id_b") // agree, disagree
    val r = Dedup.linkageEmRound(pairs, "id_a", "id_b", recs, "id",
      Seq(("brand", 0.8, 0.1)), prior = 0.5).head()
    // g₁ = .5·.8/(.5·.8+.5·.1) = .888888889 (9 dp), g₂ = .5·.2/(.5·.2+.5·.9)
    // = .181818182; sg = 1.070707071
    val (g1, g2) = (0.888888889, 0.181818182)
    val sg = BigDecimal(g1) + BigDecimal(g2)
    assert(r.getLong(1) == 2L)
    assert(math.abs(r.getDouble(2) - (sg / 2).toDouble) < 1e-12)          // p_est
    assert(math.abs(r.getDouble(3) - (BigDecimal(g1) / sg).toDouble) < 1e-9) // m_est
    assert(math.abs(r.getDouble(4) -
      ((1 - BigDecimal(g1)) / (2 - sg)).toDouble) < 1e-9)                 // u_est
    // EM direction: the informative field's m rises toward the agree rate
    assert(r.getDouble(3) > 0.8 && r.getDouble(4) < 0.2)
  }

  test("soundexBlocks: sound-alike spellings share a block; singletons drop") {
    val names = Seq((1L, "Smith"), (2L, "Smyth"), (3L, "Robert"), (4L, "Rupert"),
      (5L, "Unique"), (6L, "  ")).toDF("id", "name")
    val out = Dedup.soundexBlocks(names, "id", "name")
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    // classic pairs: Smith/Smyth → S530, Robert/Rupert → R163
    assert(out("S530") == ((2L, 2L, "Smith")), out.toString)
    assert(out("R163") == ((2L, 2L, "Robert")), out.toString)
    assert(out.size == 2, "singleton and blank names produce no block")
  }

  test("soundexBlocks: run collapse and zero-padding edge cases") {
    // PFISTER: P,F both code 1 and must collapse through the first letter;
    // LEE/LEO: all-vowel tails pad to L000
    val names = Seq((1L, "Pfister"), (2L, "Phister"), (3L, "Lee"), (4L, "Leo"))
      .toDF("id", "name")
    val out = Dedup.soundexBlocks(names, "id", "name")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(out.contains("P236") && out("P236") == 2, out.toString) // both P?ster forms
    assert(out.contains("L000") && out("L000") == 2, out.toString)
  }

  test("reciprocalBestMatch: only mutual argmax pairs survive; ties break by partner id") {
    val pairs = Seq((1L, 2L, 5), (1L, 3L, 9), (2L, 3L, 7)).toDF("id_a", "id_b", "s")
    val out = Dedup.reciprocalBestMatch(pairs, "id_a", "id_b", col("s"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // 1's best is 3 (9), 3's best is 1 (9) -> match; 2's best is 3 but 3 prefers 1
    assert(out.toSeq == Seq((1L, 3L, 9.0)), out.toSeq.toString)
    val tied = Seq((1L, 2L, 5), (1L, 3L, 5)).toDF("id_a", "id_b", "s")
    val t = Dedup.reciprocalBestMatch(tied, "id_a", "id_b", col("s"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(t.toSeq == Seq((1L, 2L)), "equal scores pick the smaller partner id")
  }

  test("lshCalibration: S-curve matches the closed form, monotone, flag consistent") {
    val out = Dedup.lshCalibration(spark, bands = 32, rowsPerBand = 4, threshold = 0.5)
      .collect().map(r => (r.getDouble(0), r.getDouble(1), r.getInt(2)))
    assert(out.length == 19)
    // mirror the repeated-squaring chain at s = 0.5
    val s = 0.5; val t1 = s * s; val s4 = t1 * t1
    var u = 1d - s4; for (_ <- 1 to 5) u = u * u
    val expected = BigDecimal(1d - u).setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
    val at05 = out.find(_._1 == 0.5).get
    assert(at05._2 == expected, s"closed form at 0.5: $at05 vs $expected")
    assert(out.sliding(2).forall(w => w(0)._2 <= w(1)._2), "monotone in s")
    assert(out.forall(r => r._3 == (if (r._2 >= 0.5) 1 else 0)), "flag consistent")
    assert(out.head._2 < 0.01 && out.last._2 > 0.999, s"endpoints: ${out.head} ${out.last}")
  }
}

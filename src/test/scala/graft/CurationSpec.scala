package graft

import org.apache.spark.sql.functions._
import graft.operators.Curation

/** Curation operators: repetition stats, PII redaction, vocabulary, TF-IDF,
  * sequence packing, contamination screening — known-answer cases. */
class CurationSpec extends SparkSpec {
  import spark.implicits._

  private def docs = Seq(
    (1L, "the cat sat on the mat", "a"),
    (2L, "spam spam spam spam", "a"),
    (3L, "unique words only here", "b")
  ).toDF("doc_id", "text", "source")

  test("repetitionStats: dup ratio exact on known docs") {
    val r = Curation.repetitionStats(docs, "doc_id", "text").collect()
    val byId = r.map(x => x.getLong(0) -> x).toMap
    assert(byId(1L).getLong(1) == 6 && byId(1L).getLong(2) == 5) // 'the' twice
    assert(byId(2L).getLong(1) == 4 && byId(2L).getLong(2) == 1)
    assert(byId(2L).getDecimal(3).doubleValue() == 0.75)
    assert(byId(3L).getDecimal(3).doubleValue() == 0.0)
  }

  test("redact: emails then digit runs, counts don't double-count email digits") {
    val df = Seq(
      (1L, "mail bob42@ex.com or call 555-1234"),
      (2L, "no pii here"),
      (3L, "ids 12 34 56")
    ).toDF("id", "text")
    val out = Curation.redact(df, "id", "text").collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
    assert(out(1L) == ("mail <EMAIL> or call <NUM>-<NUM>", 3L)) // 1 email + 2 digit runs
    assert(out(2L) == ("no pii here", 0L))
    assert(out(3L) == ("ids <NUM> <NUM> <NUM>", 3L))
  }

  test("vocabulary: frequency order with token tiebreak") {
    val v = Curation.vocabulary(docs, "text", 3).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    assert(v.head == ("spam", 4L))
    assert(v(1) == ("the", 2L))
    // remaining all count 1 → smallest token alphabetically
    assert(v(2)._2 == 1L && v(2)._1 == "cat")
  }

  test("tfidfTopTerm: doc-unique term wins over corpus-wide term") {
    val r = Curation.tfidfTopTerm(docs, "doc_id", "text").collect()
      .map(x => x.getLong(0) -> x.getString(1)).toMap
    assert(r(2L) == "spam") // tf=4, df=1 → max score
    assert(r.size == 3)
  }

  test("packSequences: per-source exclusive prefix sum, budget boundaries") {
    val many = spark.range(10).select(
      col("id").as("doc_id"), lit("s").as("source"),
      lit("one two three four five six seven eight nine ten").as("text")) // 10 tokens each
    val p = Curation.packSequences(many, "doc_id", "source", "text", 25).collect()
      .map(r => r.getLong(0) -> r.getLong(3)).toMap
    // prior sums: 0,10,20,...,90 → floor(prior/25): 0,0,0,1,1,2,2,2,3,3
    assert(p == Map(0L -> 0L, 1L -> 0L, 2L -> 0L, 3L -> 1L, 4L -> 1L,
      5L -> 2L, 6L -> 2L, 7L -> 2L, 8L -> 3L, 9L -> 3L))
  }

  test("chunkDocuments: full coverage with overlap; short and empty docs keep one chunk") {
    val df = Seq(
      (1L, "a" * 250),   // 250 chars, size 100/overlap 20 → stride 80 → chunks at 0,80,160 (3)
      (2L, "short"),
      (3L, "")
    ).toDF("doc_id", "text")
    val out = Curation.chunkDocuments(df, "doc_id", "text", size = 100, overlap = 20)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2)))
    val byDoc = out.groupBy(_._1)
    assert(byDoc(1L).length == 3)
    assert(byDoc(1L).map(_._3.length).toSeq == Seq(100, 100, 90)) // tail chunk shorter
    // reconstruction: dropping each chunk's first `overlap` chars (except
    // chunk 0) and concatenating must rebuild the document exactly
    val rebuilt = byDoc(1L).sortBy(_._2).zipWithIndex
      .map { case ((_, _, t), i) => if (i == 0) t else t.drop(20) }.mkString
    assert(rebuilt == "a" * 250)
    assert(byDoc(2L).toSeq == Seq((2L, 0, "short")))
    assert(byDoc(3L).toSeq == Seq((3L, 0, "")))
  }

  test("normalizeText: trims, collapses ws, folds accents, strips controls, lowercases") {
    val df = Seq(
      (1L, "  CAFÉ   Naïve\tÑoño  "),
      (2L, "plaintext here"),
      (3L, "ÀÈÌÒÙ àèìòù")
    ).toDF("id", "t")
    val out = df.select(col("id"), graft.operators.Curation.normalizeText(col("t")).as("n"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out(1L) == "cafe naive nono", out(1L))
    assert(out(2L) == "plaintext here", out(2L))
    assert(out(3L) == "aeiou aeiou", out(3L))
  }

  test("curate: quality floor, repetition cap, exact-dup keep-first — one pass") {
    val df = Seq(
      (1L, "the quick brown fox jumps over the lazy dog near the river bank"),
      (2L, "spam spam spam spam spam spam spam spam spam spam spam"), // ratio 10/11 > 0.9 cap
      (3L, "too short"),                                            // < 5 tokens
      (4L, "the quick brown fox jumps over the lazy dog near the river bank"), // exact dup of 1
      (5L, "another acceptable document with plenty of distinct words inside it")
    ).toDF("doc_id", "text")
    val out = Curation.curate(df, "doc_id", "text").collect().map(_.getLong(0)).toSeq
    assert(out == Seq(1L, 5L), out.toString) // 2 too repetitive, 3 too short, 4 dup of 1
  }

  test("unigramLogLikelihood: common-token docs outscore rare-token docs; hand-checked values") {
    // corpus: "the" appears 4×, rare tokens once each → 8 occurrences total
    val df = Seq(
      (1L, "the the the the"),      // 4 tokens, each P=4/8 → avg = ln(1/2)
      (2L, "aardvark quux zzz onomatopoeia") // 4 tokens, each P=1/8 → avg = ln(1/8)
    ).toDF("doc_id", "text")
    val r = Curation.unigramLogLikelihood(df, "doc_id", "text")
      .collect().map(x => x.getLong(0) -> (x.getLong(1), x.getDouble(2))).toMap
    assert(r(1L)._1 == 4 && r(2L)._1 == 4)
    assert(math.abs(r(1L)._2 - math.log(0.5)) < 1e-6, r(1L).toString)
    assert(math.abs(r(2L)._2 - math.log(0.125)) < 1e-6, r(2L).toString)
    assert(r(1L)._2 > r(2L)._2) // the filter's point: common prose scores higher
  }

  test("contaminationScreen: flags only docs sharing an 8-gram with benchmark") {
    val phrase = "alpha beta gamma delta epsilon zeta eta theta" // exactly 8 tokens
    val df = Seq(
      (1L, s"bench doc contains $phrase end", true),
      (2L, s"corpus doc also has $phrase inside", false),
      (3L, "completely different text with no overlap at all whatsoever", false),
      (4L, "short", false)
    ).toDF("doc_id", "text", "is_bench")
    val hits = Curation.contaminationScreen(df, "doc_id", "text", col("is_bench"), 8)
      .collect().map(_.getLong(0))
    assert(hits.sameElements(Array(2L)))
  }

  test("bigramLogLikelihood: repeated transitions score higher than unseen-heavy docs") {
    val df = Seq(
      (1L, "the cat sat the cat sat the cat sat"), // all transitions seen 2-3×
      (2L, "the cat sat on a completely novel phrase here"), // mostly 1× transitions
      (3L, "x") // single token → no bigrams → absent from output
    ).toDF("doc_id", "text")
    val out = Curation.bigramLogLikelihood(df, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(!out.contains(3L), out.toString)
    assert(out(1L)._1 == 8L && out(2L)._1 == 8L, out.toString) // 9 tokens → 8 bigrams each
    assert(out(1L)._2 > out(2L)._2, out.toString) // repetition → higher avg logprob
  }

  test("tokenEntropy: uniform tokens hit ln(k); single-token docs hit zero") {
    val df = Seq(
      (1L, "a b c d"),          // uniform over 4 → H = ln 4
      (2L, "spam spam spam"),   // one token → H = 0
      (3L, "")                  // tokenless → absent
    ).toDF("doc_id", "text")
    val out = Curation.tokenEntropy(df, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(!out.contains(3L))
    assert(out(1L)._1 == 4L && math.abs(out(1L)._2 - math.log(4)) < 1e-6, out.toString)
    assert(out(2L) == ((3L, 0.0)), out.toString)
  }

  test("bigramNovelty: shared phrases lower the score; fully-unique doc scores 1") {
    val df = Seq(
      (1L, "the quick brown fox"),     // shares "the quick" with doc 2
      (2L, "the quick red dog"),
      (3L, "entirely novel words here") // all bigrams unique
    ).toDF("doc_id", "text")
    val out = Curation.bigramNovelty(df, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(out(3L) == ((3L, 3L, 1.0)), out.toString)
    // docs 1/2: 3 bigrams, "the quick" shared → 2 unique of 3
    assert(out(1L)._2 == 2L && out(2L)._2 == 2L, out.toString)
    assert(math.abs(out(1L)._3 - 2.0 / 3) < 1e-6, out.toString)
  }

  test("boilerplateGrams: template 2-gram tops its source, counted once per doc") {
    val df = Seq(
      (1L, "a", "footer text unique alpha"),
      (2L, "a", "footer text unique beta"),
      (3L, "a", "footer text footer text"), // repeated in-doc — still ONE doc
      (4L, "b", "other words entirely here")
    ).toDF("doc_id", "source", "text")
    val out = Curation.boilerplateGrams(df, "doc_id", "source", "text", n = 2, topK = 1)
      .collect().map(r => r.getString(0) -> ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
    assert(out("a") == (("footer text", 3L, 1L)), out.toString)
    assert(out("b")._2 == 1L) // no repeats in source b — any gram, df 1
  }

  test("importanceWeights: target-like docs score above source-like; hand case exact") {
    // target docs say "alpha", the rest say "beta"; a mixed doc lands between
    val df = Seq(
      (1L, "alpha alpha", true), (2L, "alpha alpha", true),
      (3L, "beta beta", false), (4L, "beta beta", false),
      (5L, "alpha beta", false)
    ).toDF("doc_id", "text", "is_target")
    val out = Curation.importanceWeights(df, "doc_id", "text", col("is_target"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    // corpus: cs(alpha)=5, cs(beta)=5, Ns=10, V=2; target: ct(alpha)=4, Nt=4
    val wAlpha = math.log((4.0 + 1) * (10 + 2) / ((5.0 + 1) * (4 + 2)))
    val wBeta  = math.log((0.0 + 1) * (10 + 2) / ((5.0 + 1) * (4 + 2)))
    assert(out(1L)._1 == 2L)
    assert(math.abs(out(1L)._2 - wAlpha) < 1e-6, s"${out(1L)._2} vs $wAlpha")
    assert(math.abs(out(3L)._2 - wBeta) < 1e-6, s"${out(3L)._2} vs $wBeta")
    assert(math.abs(out(5L)._2 - (wAlpha + wBeta) / 2) < 1e-6)
    // ordering: target-like > mixed > source-like
    assert(out(1L)._2 > out(5L)._2 && out(5L)._2 > out(3L)._2)
    // partitioning invariance (decimal pre-sum quantization)
    val p = Curation.importanceWeights(df.repartition(7), "doc_id", "text", col("is_target"))
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(p == out.map { case (k, v) => k -> v._2 })
  }

  test("lengthBucketBatches: snap-to-boundary, oversize clamps, batches fill in id order") {
    // token counts: 3, 10, 10, 10, 33 with boundaries 8/32 → buckets 8, 32×3, clamp 32
    val docs = Seq(
      (1L, "a b c"),
      (2L, (1 to 10).map(i => s"w$i").mkString(" ")),
      (3L, (1 to 10).map(i => s"x$i").mkString(" ")),
      (4L, (1 to 10).map(i => s"y$i").mkString(" ")),
      (5L, (1 to 33).map(i => s"z$i").mkString(" "))
    ).toDF("doc_id", "text")
    val out = Curation.lengthBucketBatches(docs, "doc_id", "text", Seq(8, 32), batchSize = 2)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))))
      .toMap
    assert(out(1L) == ((3L, 8L, 0L, 5L)))          // 3 toks → bucket 8, pad 5
    assert(out(2L) == ((10L, 32L, 0L, 22L)))       // batch 0 holds ids 2,3
    assert(out(3L) == ((10L, 32L, 0L, 22L)))
    assert(out(4L)._3 == 1L)                       // id 4 spills to batch 1
    assert(out(5L) == ((33L, 32L, 1L, 0L)))        // oversize: clamp, pad 0
    // repartition-invariant (two-pass numbering, not a local window)
    val p = Curation.lengthBucketBatches(docs.repartition(7), "doc_id", "text",
      Seq(8, 32), batchSize = 2).collect().map(_.toSeq).toSeq
    assert(p == Curation.lengthBucketBatches(docs, "doc_id", "text",
      Seq(8, 32), batchSize = 2).collect().map(_.toSeq).toSeq)
  }

  test("distinctiveTerms: a source's marker word tops its list; shared filler never does") {
    // 'spam' is source A's marker, 'promo' is B's; 'the' floods both
    val docs = (
      (1 to 30).map(i => ("A", s"the common words spam spam here $i")) ++
      (1 to 30).map(i => ("B", s"the common words promo promo there $i"))
    ).zipWithIndex.map { case ((s, t), i) => (i.toLong, s, t) }
      .toDF("doc_id", "source", "text")
    val out = Curation.distinctiveTerms(docs, "source", "text",
      topK = 2, alpha0 = 50.0, minCount = 10)
      .collect().map(r => (r.getString(0), r.getInt(1)) -> r.getString(2)).toMap
    assert(out(("A", 1)) == "spam", out.toString)
    assert(out(("B", 1)) == "promo", out.toString)
    assert(!out.values.toSet.contains("the"), out.toString)
    // z of the marker is strongly positive
    val z = Curation.distinctiveTerms(docs, "source", "text", 2, 50.0, 10)
      .where(col("tok") === "spam").head().getDouble(4)
    assert(z > 3.0, z.toString)
  }

  test("bpePairCounts: word-frequency-weighted pair counts with in-word multiplicity") {
    // 'aaa' ×2 docs contributes pair (a,a) twice per word occurrence;
    // 'ab ab' inside one doc counts the word twice via the frequency table
    val df = Seq(
      (1L, "aaa ab"), (2L, "aaa ab"), (3L, "ab x") // 'x' too short for pairs
    ).toDF("doc_id", "text")
    val out = Curation.bpePairCounts(df, "text", 10).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(out((("a", "a"))) == 4L) // 2 words × 2 adjacent positions
    assert(out((("a", "b"))) == 3L) // 'ab' appears 3 times corpus-wide
    assert(out.size == 2)
    // top pair = next merge rule; count-desc then lexicographic tiebreak
    val top = Curation.bpePairCounts(df, "text", 1).head()
    assert((top.getString(0), top.getString(1)) == (("a", "a")))
  }

  test("ngramRows: tokenizer regex appears ONCE in the physical plan") {
    // the two-step projection must stay split: if CollapseProject (or a
    // future rule) inlines the token array back into the gram lambda, the
    // regex re-runs per element — the 7.5s-vs-1.0s regression this guards
    // parquet-backed input: a local relation constant-folds the regex away
    val pq = Tables.documents(spark, "/root/testdata/sf0.001")
    val plan = Curation.ngramRows(pq, Seq("doc_id"), "text", 2, "g")
      .queryExecution.executedPlan.toString
    val hits = "regexp_extract_all".r.findAllIn(plan).size
    assert(hits == 1, s"regex evaluated $hits times in plan:\n$plan")
    // and the gram rows carry only (keys, gram) — never the token array
    val out = Curation.ngramRows(docs, Seq("doc_id"), "text", 2, "g")
    assert(out.columns.toSeq == Seq("doc_id", "g"))
  }

  test("segmentGreedy: reference merge-all semantics, incl. odd same-symbol runs") {
    val rank = Map(("a", "a") -> 0, ("aa", "aa") -> 1, ("b", "c") -> 2)
    // merge-all left-to-right, lowest rank first: aaaaa -> aa aa a -> aaaa a
    assert(Curation.segmentGreedy("aaaaa", rank).toSeq == Seq("aaaa", "a"))
    assert(Curation.segmentGreedy("abc", rank).toSeq == Seq("a", "bc"))
    assert(Curation.segmentGreedy("xyz", rank).toSeq == Seq("x", "y", "z"))
    assert(Curation.segmentGreedy("a", rank).toSeq == Seq("a"))
  }

  test("bpeTrainBatched: known-answer merge sequence; encode compresses accordingly") {
    // corpus: 'abab' ×3, 'abc' ×2 → round 1 pair (a,b) count 8;
    // round 2: symbols ab|ab ×3, ab|c ×2 → (ab,ab)=3 beats (ab,c)=2;
    // round 3: (ab,c)=2
    val df = Seq((1L, "abab abab abab abc"), (2L, "abc")).toDF("doc_id", "text")
    val m = Curation.bpeTrainBatched(df, "text", 3).orderBy("rank").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
    assert(m.toSeq == Seq((1, "a", "b", 8L), (2, "ab", "ab", 3L), (3, "ab", "c", 2L)), m.toSeq)
    assert(SparkEntry.bpeSequentialReference(Seq("abab abab abab abc", "abc"), 3)._1 ==
      m.map(x => (x._2, x._3, x._4)).toList)
    // fewer merges than distinct pairs available → stops when exhausted
    val capped = Curation.bpeTrainBatched(df, "text", 99).orderBy("rank").collect()
      .map(r => (r.getString(1), r.getString(2), r.getLong(3))).toList
    assert(capped.length <= 4, capped)
    assert(capped == SparkEntry.bpeSequentialReference(
      Seq("abab abab abab abc", "abc"), 99)._1, capped)
    val enc = Curation.bpeEncode(df, "doc_id", "text",
        m.map(x => (x._2, x._3)).toSeq)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    // doc1: abab->1 sym ×3 + abc->1 sym = 4 subwords over 15 alnum chars
    assert(enc(1L) == ((4L, 15L)), enc.toString)
    assert(enc(2L) == ((1L, 3L)))
  }

  test("bpeTrainBatched is batch-size-invariant: batchK 1, 4 and 128 learn " +
    "identical merge lists on the known-answer corpus, an interacting corpus, and real text") {
    // batchK = 1 is the one-merge-per-round schedule; at batchK = 4 the
    // collect is usually full, so the K-th-count bound (cK > 0) binds
    def lists(df: org.apache.spark.sql.DataFrame, n: Int): Seq[Seq[Seq[Any]]] =
      Seq(1, 4, 128).map(k => Curation.bpeTrainBatched(df, "text", n, batchK = k)
        .orderBy("rank").collect().map(_.toSeq).toSeq)
    // the known-answer corpus (every round interacts: ab feeds abab/abc) —
    // batching must degrade to prefix-of-1 and still match exactly
    val ka = lists(Seq((1L, "abab abab abab abc"), (2L, "abc")).toDF("doc_id", "text"), 3)
    assert(ka.distinct.length == 1, s"known-answer diverged: $ka")
    // adversarial interaction: same-symbol runs, shared chars, output
    // collisions across rounds (ab + c vs a + bc tie shapes)
    val adv = lists(Seq((1L, "aaaa aab abb bba bab abc bca cab aaaa aab"),
      (2L, "abc abc bba aab aaaa")).toDF("doc_id", "text"), 8)
    assert(adv.distinct.length == 1, s"adversarial diverged: $adv")
    // real text: documents sf0.001, 10 merges
    val d = lists(Tables.documents(spark, "/root/testdata/sf0.001").limit(200), 10)
    assert(d.distinct.length == 1 && d.head.length == 10, s"sf0.001 diverged: $d")
  }

  test("oracle-harness sequential BPE ≡ engine trainer + encoder (the q221/" +
    "q222 constant-table oracle's independence check)") {
    // SparkEntry.bpeSequentialReference is the INDEPENDENT textbook
    // implementation that pins the q221/q222 DuckDB constants — this test
    // is the cross-implementation equivalence that makes a divergence in
    // EITHER implementation a loud verify failure, on the same three
    // corpora the batch-size invariance is pinned on
    def check(rows: Seq[(Long, String)], nMerges: Int): Unit = {
      val df = rows.toDF("doc_id", "text")
      val engine = Curation.bpeTrainBatched(df, "text", nMerges).orderBy("rank")
        .collect().map(r => (r.getString(1), r.getString(2), r.getLong(3))).toSeq
      val (refMerges, refNs) =
        SparkEntry.bpeSequentialReference(rows.map(_._2), nMerges)
      assert(engine == refMerges, s"merge lists diverged: $refMerges vs $engine")
      val enc = Curation.bpeEncode(df, "doc_id", "text",
          refMerges.map(m => (m._1, m._2)))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val tokRe = java.util.regex.Pattern.compile("[a-z0-9]+")
      rows.foreach { case (id, t) =>
        val m = tokRe.matcher(t.toLowerCase(java.util.Locale.ROOT)); var n = 0L
        while (m.find()) n += refNs(m.group())
        assert(enc(id) == n, s"doc $id subword count: ref $n vs engine ${enc(id)}")
      }
    }
    check(Seq((1L, "abab abab abab abc"), (2L, "abc")), 3)
    check(Seq((1L, "aaaa aab abb bba bab abc bca cab aaaa aab"),
      (2L, "abc abc bba aab aaaa")), 8)
    check(Tables.documents(spark, "/root/testdata/sf0.001").limit(200)
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq, 10)
  }

  test("BPE oracle SQL builders: degenerate corpora render empty-table SQL, " +
    "never a broken VALUES list") {
    // a corpus with no trainable words must degrade to honest empty/inert
    // constants (matching the engine's own empty outputs), not render
    // `(VALUES )` and break the whole oracle dump with a syntax error
    val emptyTrain = SparkEntry.bpeTrainSqlFor(Nil)
    assert(emptyTrain.contains("WHERE 1 = 0") && !emptyTrain.contains("VALUES"),
      emptyTrain)
    val emptySub = SparkEntry.bpeSubwordsSqlFor(Map.empty, Nil)
    assert(emptySub.contains("('', 0)") && emptySub.contains("(-1, -1, 0.0)"),
      emptySub)
    // the reference trainer itself: 1-char-only corpus learns zero merges
    // but still maps every word to 1 subword
    val (m, ns) = SparkEntry.bpeSequentialReference(Seq("a b a", "c"), 5)
    assert(m.isEmpty && ns == Map("a" -> 1, "b" -> 1, "c" -> 1))
  }

  test("bpeTrainBatched: disjoint-symbol merges land in ONE round (fewer job waves)") {
    // 13 disjoint two-letter words: no candidate shares a symbol and no
    // pair has anything on its output's flanks, so the new-pair bounds are
    // 0 and the whole table is learnable in a single wave
    val words = Seq("ab", "cd", "ef", "gh", "ij", "kl", "mn", "op",
      "qr", "st", "uv", "wx", "yz")
    val text = words.zipWithIndex
      .flatMap { case (w, i) => Seq.fill(100 - i * 5)(w) }.mkString(" ")
    val df = Seq((1L, text)).toDF("doc_id", "text")
    def countJobs(body: => Unit): Int = {
      val jobs = new java.util.concurrent.atomic.AtomicInteger
      val l = new org.apache.spark.scheduler.SparkListener {
        override def onJobEnd(e: org.apache.spark.scheduler.SparkListenerJobEnd): Unit = {
          jobs.incrementAndGet(); ()
        }
      }
      spark.sparkContext.addSparkListener(l)
      try { body; Thread.sleep(300) } finally spark.sparkContext.removeSparkListener(l)
      jobs.get
    }
    var bat: Seq[Seq[Any]] = null
    var sq: Seq[Seq[Any]] = null
    val batJobs = countJobs {
      bat = Curation.bpeTrainBatched(df, "text", 13).orderBy("rank").collect().map(_.toSeq).toSeq
    }
    val seqJobs = countJobs { // batchK = 1: one merge per round
      sq = Curation.bpeTrainBatched(df, "text", 13, batchK = 1).orderBy("rank")
        .collect().map(_.toSeq).toSeq
    }
    assert(bat == sq, s"disjoint corpus diverged: $bat vs $sq")
    assert(bat.length == 13)
    assert(batJobs < seqJobs / 2,
      s"batched should use far fewer job waves: $batJobs vs sequential $seqJobs")
  }

  test("bpeTrainBatched on real text: identical 30-merge list at never " +
    "more job waves than sequential") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.01").limit(400)
    def countJobs(body: => Unit): Int = {
      val jobs = new java.util.concurrent.atomic.AtomicInteger
      val l = new org.apache.spark.scheduler.SparkListener {
        override def onJobEnd(e: org.apache.spark.scheduler.SparkListenerJobEnd): Unit = {
          jobs.incrementAndGet(); ()
        }
      }
      spark.sparkContext.addSparkListener(l)
      try { body; Thread.sleep(300) } finally spark.sparkContext.removeSparkListener(l)
      jobs.get
    }
    var bat: Seq[Seq[Any]] = null
    var sq: Seq[Seq[Any]] = null
    val batJobs = countJobs {
      bat = Curation.bpeTrainBatched(docs, "text", 30).orderBy("rank")
        .collect().map(_.toSeq).toSeq
    }
    val seqJobs = countJobs { // batchK = 1: one merge per round
      sq = Curation.bpeTrainBatched(docs, "text", 30, batchK = 1).orderBy("rank")
        .collect().map(_.toSeq).toSeq
    }
    assert(bat == sq, s"real-text 30-merge diverged")
    assert(bat.length == 30)
    // the top-K-derived bounds cost ZERO extra jobs, so even when a
    // concentrated early-training frontier forces 1-merge rounds (where
    // bigger batches would be WRONG — sequential BPE can pick a
    // just-created pair next), batched never exceeds sequential's wave
    // count; symbol-diverse frontiers then batch fat (the disjoint-corpus
    // case above proves the collapse)
    assert(batJobs <= seqJobs,
      s"batched must never cost more waves than sequential: $batJobs vs $seqJobs")
  }

  test("gopherRules: each rule trips independently and the verdict composes") {
    import spark.implicits._
    val good = (("the and that " * 20) + "solid words here padding out " * 3).trim
    val df = Seq(
      (1L, good),                                  // passes everything
      (2L, "the and short doc"),                   // too few words
      (3L, ("xx " * 60 + "the and").trim),         // mean word len 2 -> fails
      (4L, ("wordy " * 60).trim),                  // no 2 distinct stopwords
      (5L, ("the and " + "12345 " * 58).trim)      // alpha fraction < 0.8
    ).toDF("doc_id", "text")
    val out = Curation.gopherRules(df, "doc_id", "text", minWords = 50)
      .collect().map(r => r.getLong(0) ->
        (r.getBoolean(5), r.getBoolean(6), r.getBoolean(7), r.getBoolean(8),
          r.getBoolean(9))).toMap
    assert(out(1L) == ((true, true, true, true, true)), out(1L).toString)
    assert(!out(2L)._1 && !out(2L)._5)
    assert(out(3L)._1 && !out(3L)._2 && !out(3L)._5, out(3L).toString)
    assert(out(4L)._1 && !out(4L)._4 && !out(4L)._5)
    assert(out(5L)._1 && !out(5L)._3 && !out(5L)._5, out(5L).toString)
  }

  test("segmentDedup: shared segments removed, survivors re-assemble in order") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b c d e f g h"),       // [a b c d][e f g h]
      (2L, "a b c d x y z w"),       // shares segment 1 with doc 1
      (3L, "p q r s"),               // fully unique
      (4L, "a b c d a b c d"),       // both segments are the shared one
      (5L, "u v")                    // short doc: one ragged segment
    ).toDF("doc_id", "text")
    val out = Curation.segmentDedup(docs, "doc_id", "text", segTokens = 4)
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
    assert(out(1L) == (("e f g h", 2L, 1L)), out(1L).toString)
    assert(out(2L) == (("x y z w", 2L, 1L)))
    assert(out(3L) == (("p q r s", 1L, 0L)))
    // every copy of the cross-doc segment goes, including in-doc repeats
    assert(out(4L) == (("", 2L, 2L)), out(4L).toString)
    assert(out(5L) == (("u v", 1L, 0L)))
    // pure function of the corpus: partitioning cannot change the edit
    val p = Curation.segmentDedup(docs.repartition(5), "doc_id", "text", segTokens = 4)
      .collect().map(_.toSeq).toSeq
    assert(p == Curation.segmentDedup(docs, "doc_id", "text", segTokens = 4)
      .collect().map(_.toSeq).toSeq)
  }

  test("urlDedup: cosmetic variants collapse; real differences do not") {
    import spark.implicits._
    val urls = Seq(
      (1L, "https://www.Site.example.com/Docs/A"),
      (2L, "HTTPS://WWW.SITE.EXAMPLE.COM/Docs/A"),          // host case
      (3L, "https://www.site.example.com:443/Docs/A"),      // default port
      (4L, "https://www.site.example.com/Docs/A?utm_source=x&utm_medium=y"),
      (5L, "https://www.site.example.com/Docs/A#section-3"), // fragment
      (6L, "https://www.site.example.com/Docs/A/"),          // trailing slash
      (7L, "https://www.site.example.com/Docs/A?b=2&a=1"),   // params, sorted
      (8L, "https://www.site.example.com/Docs/A?a=1&b=2"),   // same params, other order
      (9L, "https://www.site.example.com/docs/a"),           // path case DIFFERS → distinct
      (10L, "http://www.site.example.com/Docs/A")            // scheme differs → distinct
    ).toDF("id", "url")
    val out = Curation.urlDedup(urls, "id", "url")
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getString(2)))).toMap
    assert(out("https://www.site.example.com/Docs/A") == ((6L, "1,2,3,4,5,6")), out.toString)
    assert(out("https://www.site.example.com/Docs/A?a=1&b=2") == ((2L, "7,8")), out.toString)
    // path-case and scheme variants stayed singletons (not reported)
    assert(out.size == 2, out.toString)
  }

  test("rakeKeywords: exact deg/freq word scores and phrase sums on a hand corpus") {
    // phrases: "good dog" and "good dog house" — freq(good)=2, deg(good)=
    // 2+3=5, ws(good)=2.5; same for dog; house ws=3 → scores 5.0 and 8.0
    val docs = Seq((1L, "good dog of good dog house")).toDF("doc_id", "text")
    val out = Curation.rakeKeywords(docs, "doc_id", "text", Seq("of"), topK = 10)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    assert(out.toSeq == Seq(("good dog house", 1L, 8.0), ("good dog", 1L, 5.0)), out.mkString(","))
    // repeated identical phrases roll up, score unchanged
    val rep = Seq((1L, "alpha beta of alpha beta")).toDF("doc_id", "text")
    val r2 = Curation.rakeKeywords(rep, "doc_id", "text", Seq("of"), topK = 10)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    assert(r2.toSeq == Seq(("alpha beta", 2L, 4.0)), r2.mkString(","))
    // all-stopword doc → no phrases
    assert(Curation.rakeKeywords(Seq((1L, "of of of")).toDF("doc_id", "text"),
      "doc_id", "text", Seq("of"), 10).count() == 0)
  }

  test("domainLogOdds: symmetric hand corpus — target token up, background token down") {
    // m: alpha(1,0) beta(0,1) common(1,1); nt=nb=2, v=3
    // doc1 = (ln(2/5)-ln(1/5) + 0)/2 = ln2/2; doc2 = -ln2/2 by symmetry
    val docs = Seq((1L, "alpha common", "t"), (2L, "beta common", "b"))
      .toDF("doc_id", "text", "src")
    val out = Curation.domainLogOdds(docs, "doc_id", "text", col("src") === "t")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(out(1L)._1 == 2 && out(2L)._1 == 2)
    assert(out(1L)._2 == 0.346574, s"ln2/2 at 6 dp: ${out(1L)}")
    assert(out(2L)._2 == -0.346574, s"antisymmetric: ${out(2L)}")
  }

  test("kneserNeyBigrams: hand corpus — discount, backoff split, and ordering exact") {
    // bigram types: (a,b)×2, (c,b)×1, (a,d)×1 → B=3; c(a)=3 with 2
    // successor types; N1+(·b)=2, N1+(·d)=1
    val docs = Seq((1L, "a b"), (2L, "a b"), (3L, "c b"), (4L, "a d"))
      .toDF("doc_id", "text")
    val out = Curation.kneserNeyBigrams(docs, "doc_id", "text", topK = 10)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getDouble(4), r.getDouble(5))).toMap
    def q(x: Double) = BigDecimal(x).setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
    // P(b|a) = (2−.75)/3 + (.75·2/3)·(2/3); P(b|c) = .25 + .75·(2/3); P(d|a) low
    assert(out(("a", "b")) == ((2L, 3L,
      q((2d - 0.75) / 3d + (0.75 * 2d / 3d) * (2d / 3d)), q(2d / 3d))), out.toString)
    assert(out(("c", "b"))._3 == q((1d - 0.75) / 1d + (0.75 * 1d / 1d) * (2d / 3d)))
    assert(out(("a", "d"))._3 == q((1d - 0.75) / 3d + (0.75 * 2d / 3d) * (1d / 3d)))
    // frequent-but-fixed-context words get LOW continuation probability:
    // that is the whole Kneser–Ney point (P_cont uses types, not counts)
    assert(out(("a", "d"))._4 < out(("a", "b"))._4)
  }

  test("kneserNeyBigrams: topK truncates on (count desc, w1, w2) total order") {
    val docs = Seq((1L, "a b"), (2L, "a b"), (3L, "c b"), (4L, "a d"))
      .toDF("doc_id", "text")
    val top = Curation.kneserNeyBigrams(docs, "doc_id", "text", topK = 2)
      .collect().map(r => (r.getString(0), r.getString(1)))
    assert(top.toSeq == Seq(("a", "b"), ("a", "d")), top.mkString(","))
  }

  test("c4Rules: terminal/stub line shapes, placeholder and code tells, empty doc") {
    val docs = Seq(
      (1L, "This is fine.\nIt has sentences!\nIs it good?"),
      (2L, "lorem ipsum dolor sit amet. yes indeed it works fine. more here.\nok"),
      (3L, "function f() { return 1; }"),
      (4L, "")
    ).toDF("doc_id", "text")
    val out = Curation.c4Rules(docs, "doc_id", "text").collect()
      .map(r => r.getLong(0) -> r).toMap
    val d1 = out(1L)
    assert(d1.getLong(1) == 3L && d1.getLong(2) == 3L &&
      d1.getDouble(3) == 1.0 && d1.getDouble(4) == 0.0 && d1.getBoolean(8), d1.toString)
    val d2 = out(2L)
    assert(d2.getBoolean(5) && !d2.getBoolean(8), "lorem ipsum fails")
    assert(d2.getDouble(3) == 0.5 && d2.getDouble(4) == 0.5, d2.toString) // 'ok' line
    val d3 = out(3L)
    assert(d3.getBoolean(6) && !d3.getBoolean(8), "code brace fails")
    val d4 = out(4L)
    assert(d4.getLong(1) == 0L && d4.isNullAt(3) && !d4.getBoolean(8),
      s"empty doc: no lines, null fracs, fails: $d4")
  }
}

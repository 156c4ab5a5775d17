package graft

import org.apache.spark.sql.functions._
import graft.operators._

/** Null/degenerate-input hardening: every text and vector operator must
  * survive null text, empty text, and null embedding rows — at 100 TB there
  * is ALWAYS a malformed row, and one NPE kills the stage. SQL-expression
  * operators inherit SQL null semantics (null in → null out); typed-lambda
  * operators need explicit guards, which is what this spec pins. */
class NullSafetySpec extends SparkSpec {
  import spark.implicits._

  private def docs = Seq(
    (1L, "normal text here", "s1"),
    (2L, null.asInstanceOf[String], "s1"),
    (3L, "", "s2")
  ).toDF("doc_id", "text", "source")

  private def vecs = Seq(
    (1L, Array(1f, 0f), 0),
    (2L, null.asInstanceOf[Array[Float]], 0),
    (3L, Array(0f, 1f), 1)
  ).toDF("vec_id", "embedding", "label")

  test("curation ops: null/empty text rows flow through, no crash") {
    assert(Curation.repetitionStats(docs, "doc_id", "text").count() == 3)
    assert(Curation.redact(docs, "doc_id", "text").count() == 3)
    assert(Curation.vocabulary(docs, "text", 10).collect().nonEmpty)
    assert(Curation.packSequences(docs, "doc_id", "source", "text", 10).count() == 3)
    assert(Curation.contaminationScreen(docs, "doc_id", "text", col("source") === "s2", 2).count() == 0)
    // tfidf drops null/empty docs (no tokens) but must not crash
    assert(Curation.tfidfTopTerm(docs, "doc_id", "text").count() == 1)
    // unigram LL likewise: tokenless docs vanish, the rest score
    assert(Curation.unigramLogLikelihood(docs, "doc_id", "text").count() == 1)
  }

  test("connectedComponentsStar: empty edge list yields empty result, no crash") {
    val empty = Seq.empty[(Long, Long)].toDF("a", "b")
    assert(graft.operators.Dedup.connectedComponentsStar(empty, "a", "b").count() == 0)
  }

  test("text analysis ops: null text rows flow through, no crash") {
    assert(TextAnalysis.tokenCounts(docs, "doc_id", "text").count() == 3)
    assert(TextAnalysis.qualityScore(docs, "doc_id", "text").count() == 3)
    assert(TextAnalysis.langId(docs, "doc_id", "text").count() == 3)
    assert(TextAnalysis.fingerprints(docs, "doc_id", "text").count() == 3)
  }

  test("dedup ops: null text rows don't kill the job") {
    assert(Dedup.exact(docs, "doc_id", "text").count() >= 2)
    Dedup.minhashLsh(docs.select("doc_id", "text"), "doc_id", "text").count() // no throw
    Dedup.simhashPairsPortable(docs.select("doc_id", "text"), "doc_id", "text").count() // no throw
  }

  test("similarity ops: null embedding rows are skipped, not fatal") {
    val out = Similarity.bruteForceTopK(vecs, "vec_id", "embedding", Seq(1L), 2)
    assert(out.collect().map(_.getLong(1)).toSet == Set(3L)) // null row excluded
    Similarity.annLshTopK(vecs, "vec_id", "embedding", Seq(1L), 2).count() // no throw
    Similarity.labelCentroids(vecs, "label", "embedding").count() // no throw
  }

  test("round-3 text/dedup ops: null/empty text rows flow through, no crash") {
    // null text → no terms → filtered by score/gram predicates, never an NPE
    assert(TextAnalysis.bm25(docs, "doc_id", "text", Seq("normal")).count() == 1)
    assert(TextAnalysis.invertedIndex(docs, "doc_id", "text").count() == 3) // 3 distinct tokens
    assert(TextAnalysis.featureHash(docs, "doc_id", "text").count() == 3)  // doc 1's tokens only
    assert(Curation.boilerplateGrams(docs, "doc_id", "source", "text").count() >= 1)
    assert(Curation.bigramLogLikelihood(docs, "doc_id", "text").count() == 1)
    assert(Dedup.substringPairs(docs, "doc_id", "text").count() == 0)
    assert(Dedup.sortedNeighborhoodPairs(
      docs.filter(col("text").isNotNull), "doc_id", "text", 3, 2).count() == 0)
  }

  test("round-3 analytics ops: degenerate groups don't crash") {
    val oneUser = Seq((1L, java.sql.Timestamp.valueOf("2024-01-01 10:00:00"), 1L, "click", 1.0))
      .toDF("user_id", "ts", "event_id", "event_type", "value")
    assert(Analytics.markovTransitions(oneUser, "user_id", "ts", "event_id", "event_type").count() == 0)
    assert(Analytics.retentionCohorts(oneUser, "user_id", "ts", Seq(0, 1)).count() == 1)
    assert(Analytics.growthAccounting(oneUser, "user_id", "ts").count() == 1)
    assert(Analytics.winsorizedMean(oneUser, "event_type", "value").count() == 1)
    assert(Analytics.decayedScore(oneUser, "user_id", "ts", "value", 7.0).count() == 1)
    assert(Analytics.cdcCompact(oneUser, "user_id", "ts", "event_id", "event_type", "error").count() == 1)
    // single-row regression: denominator n·Σx²−(Σx)² = 0 → null slope, not a crash
    val r = Analytics.regressionByGroup(oneUser, "event_type", col("value"), col("value")).head()
    assert(r.isNullAt(2), r.toString)
  }

  test("session-3 ops: null text / null vectors / null labels flow through") {
    // null text still fingerprints (coalesce) — anchors keep their negatives
    assert(Splits.negativeSample(docs, "doc_id", "text", 2).count() > 0)
    assert(Splits.classBalance(docs, "doc_id", "source").count() == 4) // 2+2 after balance
    // null embedding contributes nothing to the Gram matrix; 2-dim corpus → 3 cells
    assert(Similarity.gramMatrix(vecs, "embedding").count() == 3)
    // null-label rows are neither anchors nor negatives
    val vecsNullLabel = vecs.withColumn("label",
      when(col("vec_id") === 3L, lit(null)).otherwise(col("label")))
    assert(Similarity.hardNegatives(vecsNullLabel, "vec_id", "embedding", "label",
      Seq(1L), 2).count() == 0) // only label-0 rows remain → no cross-label rows
    // self-loops and duplicate edges are canonicalized away
    assert(graft.operators.Graph.triangleCounts(
      Seq((1L, 1L), (1L, 2L)).toDF("a", "b"), "a", "b").count() == 2)
    // empty inputs return empty results, never NPE on the stats action
    val emptyDocs = docs.filter(lit(false))
    assert(Analytics.zorderKey(emptyDocs.withColumn("x", col("doc_id")),
      "doc_id", "x", Seq("doc_id")).count() == 0)
    assert(Splits.negativeSample(emptyDocs, "doc_id", "text", 2).count() == 0)
    assert(Splits.classBalance(emptyDocs, "doc_id", "source").count() == 0)
    // string node ids survive label propagation (no numeric negation of labels)
    val strEdges = Seq(("a", "b"), ("b", "c")).toDF("x", "y")
    val lp = graft.operators.Graph.labelPropagation(strEdges, "x", "y", iters = 2)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(lp.values.forall(_ != null) && lp.size == 3, lp.toString)
  }
}

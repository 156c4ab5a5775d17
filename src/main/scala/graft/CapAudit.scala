package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{Dedup, Similarity}

/** Hot-bucket-cap exactness audit for the ★ oracle-checked dedup paths.
  *
  * The q195 latent defect (round 9) was a SCALE-THRESHOLD class: a
  * recall-affecting hot-bucket cap that cannot bind at the driver's sf0.01
  * gate but binds at a larger SF, silently shrinking the output below the
  * oracle's truth. q25/q195 now lift their caps past corpus size in the
  * registered queries; this audit closes the question for the REMAINING
  * capped ★ paths, which still run at the default `maxBucket = 1000`:
  *
  *   - q24/q26: `minhashCandidates` LSH band buckets
  *   - q30:     `nearDupCosine` hyperplane band buckets
  *
  * Two checks per path at the given SF dir, on the exact registered
  * corpora (documents/embeddings + the planted-dup recipes):
  *   1. OCCUPANCY: the max (band, hash) bucket size vs the cap — direct
  *      headroom evidence (LSH via [[Dedup.minhashBandIndex]], which is
  *      contractually the same banding as the candidate path).
  *   2. OUTPUT DIFF: default-cap output EXCEPT lifted-cap output, both
  *      ways — the end-to-end proof the cap did not truncate recall.
  *
  * Usage: runMain graft.CapAudit [sfDir]  (default /root/testdata/sf0.1 —
  * the largest SF any oracle compare can run at).
  */
object CapAudit {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = Runs.builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // the registered corpora, through SparkEntry's own planted-dup recipes
    val docs = SparkEntry.docsWithPlantedDups(Tables.documents(spark, sfDir))
    val embeds = SparkEntry.embeddingsWithPlantedDups(Tables.embeddings(spark, sfDir))

    def diffBothWays(label: String, capped: DataFrame, lifted: DataFrame): Unit = {
      val a = capped.exceptAll(lifted).count()
      val b = lifted.exceptAll(capped).count()
      val n = lifted.count()
      println(s"[capaudit] $label: lifted_rows=$n capped_minus_lifted=$a " +
        s"lifted_minus_capped=$b " + (if (a == 0 && b == 0) "EXACT" else "CAP BINDS"))
    }

    // 1. LSH band-bucket occupancy — parameters passed EXPLICITLY from the
    // one shared constant set (Dedup.Lsh*) the registered q24/q26 queries'
    // defaults also resolve to, so a drift in either function's defaults
    // can never make the audit measure a different banding than the
    // queries run (round-9 advisory)
    val occ = Dedup.minhashBandIndex(docs, "doc_id", "text",
        Dedup.LshNumHashes, Dedup.LshBands, Dedup.LshShingleK, Dedup.LshSeed)
      .groupBy("band", "band_hash").agg(count(lit(1)).as("n"))
      .agg(max(col("n"))).head().getLong(0)
    println(s"[capaudit] q24/q26 LSH max band-bucket occupancy: $occ (cap ${Dedup.LshMaxBucket})")

    // 2. end-to-end output diffs, default cap vs lifted
    diffBothWays("q24/q26 minhashCandidates",
      Dedup.minhashCandidates(docs, "doc_id", "text",
        Dedup.LshNumHashes, Dedup.LshBands, Dedup.LshShingleK, Dedup.LshSeed,
        Dedup.LshMaxBucket),
      Dedup.minhashCandidates(docs, "doc_id", "text",
        Dedup.LshNumHashes, Dedup.LshBands, Dedup.LshShingleK, Dedup.LshSeed,
        maxBucket = 1 << 20))
    diffBothWays("q30 nearDupCosine ids",
      Similarity.nearDupCosine(embeds, "vec_id", "embedding", threshold = 0.95)
        .select("vec_id_a", "vec_id_b"),
      Similarity.nearDupCosine(embeds, "vec_id", "embedding", threshold = 0.95,
          maxBucket = 1 << 20)
        .select("vec_id_a", "vec_id_b"))

    // 3. q195's corpus-DERIVED cap (round 10): the registered exact-recall
    // path vs an explicitly lifted run — this is the one audited path
    // whose default cap DOES bind at sf0.1 (27/120 combo dHashes share a
    // band-0 chunk), so the diff proves the derivation keeps it exact
    // where the 1000-doc default provably would not
    val ids = graft.Tables.documents(spark, sfDir).select(col("doc_id"))
    val media = graft.operators.Multimodal.synthesizeMixedImages(ids, "doc_id")
    diffBothWays("q195 imageNearDupPairsExact (derived cap)",
      graft.operators.Multimodal.imageNearDupPairsExact(media, "doc_id",
        maxHamming = 2, corpusCount = ids.count()),
      graft.operators.Multimodal.imageNearDupPairs(media, "doc_id",
        maxHamming = 2, maxBucket = 1 << 20))
    spark.stop()
  }
}

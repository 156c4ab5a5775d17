package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators._

/** Scale-up validation harness: replicates the sf0.1 tables N× into /tmp
  * (keys offset so join semantics hold) and times the heavyweight operators
  * at 1× and N×, printing the scaling ratio. A ratio ≈ N on an operator
  * whose work is linear in the input is the evidence that no hidden
  * quadratic/broadcast-overflow lurks before the real 1000× jump.
  * Usage: runMain graft.ScaleCheck [factor]
  */
object ScaleCheck {
  def main(args: Array[String]): Unit = {
    val factor = args.headOption.map(_.toInt).getOrElse(20)
    val spark = Runs.builder().config("spark.sql.shuffle.partitions", "64").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val src = "/root/testdata/sf0.1"
    val big = java.nio.file.Files.createTempDirectory("graft_scale").toString

    // replicate with key offsets so orders⋈lineitem keys still line up
    def replicate(name: String, keyCols: Map[String, Long]): Unit = {
      val df = Tables.load(spark, src, name)
      val copies = (0 until factor).map { k =>
        keyCols.foldLeft(df) { case (d, (c, stride)) => d.withColumn(c, col(c) + lit(k * stride)) }
      }
      copies.reduce(_.unionAll(_)).write.mode("overwrite").parquet(s"$big/$name.parquet")
    }
    val t0 = System.nanoTime()
    replicate("lineitem", Map("l_orderkey" -> 10000000L))
    replicate("orders", Map("o_orderkey" -> 10000000L))
    replicate("documents", Map("doc_id" -> 10000000L))
    replicate("embeddings", Map("vec_id" -> 10000000L))
    replicate("events", Map("event_id" -> 10000000L))
    // dims stay 1× (that's the point of a star schema)
    Seq("customer", "nation", "region", "part", "supplier").foreach { n =>
      Tables.load(spark, src, n).write.mode("overwrite").parquet(s"$big/$n.parquet")
    }
    println(f"[scale] ${factor}x replication done in ${(System.nanoTime() - t0) / 1e9}%.1f s " +
      s"(lineitem rows: ${spark.read.parquet(s"$big/lineitem.parquet").count()})")

    // optional tag filter: `runMain graft.ScaleCheck 20 grouped_auc ks_test`
    // times only matching tags (substring match) — local iteration only
    val only = args.drop(1).toSet
    def time(tag: String)(f: String => DataFrame): Unit = {
      if (only.nonEmpty && !only.exists(tag.contains)) return
      val small = Runs.timed(spark)(_ => f(src)); val large = Runs.timed(spark)(_ => f(big))
      println(f"[scale] $tag%-28s 1x=$small%6.2fs ${factor}x=$large%7.2fs ratio=${large / small}%5.1f")
    }

    time("group_rollup (3-way join)")(d => Relational.groupRollup(
      Tables.lineitem(spark, d), Tables.orders(spark, d),
      Tables.customer(spark, d), Tables.nation(spark, d)))
    time("pricing_summary (Q1)")(d => Reports.pricingSummary(Tables.lineitem(spark, d), "2000-01-01 00:00:00"))
    time("row_hash + sort")(d => SparkEntry.queries("q15_row_hash")(spark, d))
    time("exact_dedup")(d => Dedup.exact(Tables.documents(spark, d), "doc_id", "text"))
    time("minhash_lsh")(d => Dedup.minhashLsh(
      Tables.documents(spark, d).select(col("doc_id"), col("text")), "doc_id", "text"))
    time("simhash_pairs")(d => Dedup.simhashPairs(
      Tables.documents(spark, d).select(col("doc_id"), col("text")), "doc_id", "text"))
    time("ann_lsh_topk")(d => Similarity.annLshTopK(
      spark.read.parquet(s"$d/embeddings.parquet"), "vec_id", "embedding", Seq(0L, 1L, 2L), 5))
    time("sessionize")(d => Analytics.sessionize(Tables.events(spark, d).limit(2000000), 30))
    time("tfidf_top_term")(d => Curation.tfidfTopTerm(Tables.documents(spark, d), "doc_id", "text"))
    time("vocab_topk")(d => Curation.vocabulary(Tables.documents(spark, d), "text", 50))
    time("pack_sequences")(d => Curation.packSequences(
      Tables.documents(spark, d), "doc_id", "source", "text", 512))
    time("contamination_screen")(d => Curation.contaminationScreen(
      Tables.documents(spark, d), "doc_id", "text", col("source") === "src0", 8))
    time("ann_ivf_topk")(d => Similarity.annIvfTopK(
      spark.read.parquet(s"$d/embeddings.parquet"), "vec_id", "embedding", Seq(100L, 101L, 102L), 5))
    time("range_join")(d => SparkEntry.queries("q55_range_join")(spark, d))
    time("group_sample")(d => Analytics.sampleByGroup(
      Tables.documents(spark, d), "source", "doc_id", 5))
    time("dedup_clusters")(d => SparkEntry.queries("q63_dedup_clusters")(spark, d))
    time("label_centroids")(d => Similarity.labelCentroids(
      spark.read.parquet(s"$d/embeddings.parquet"), "label", "embedding"))
    time("scd2_history")(d => Analytics.scd2(
      Tables.orders(spark, d), "o_custkey", "o_orderstatus", "o_orderdate"))
    time("profile_report")(d => Analytics.profile(Tables.orders(spark, d),
      Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority")))
    time("corr_by_group")(d => SparkEntry.queries("q77_corr")(spark, d))
    time("curate_pass")(d => Curation.curate(Tables.documents(spark, d), "doc_id", "text"))
    time("chunking")(d => Curation.chunkDocuments(
      Tables.documents(spark, d), "doc_id", "text", 120, 20))
    time("anomalies")(d => SparkEntry.queries("q83_anomalies")(spark, d))
    time("lag_features")(d => Analytics.lagFeatures(
      Tables.events(spark, d), "user_id", "ts", "event_id", "value", 3))
    time("minhash_verify (q24 shape)") { d =>
      val corpus = Tables.documents(spark, d).select(col("doc_id"), col("text"))
      val cands = Dedup.minhashCandidates(corpus, "doc_id", "text")
      Dedup.ngramJaccard(corpus, "doc_id", "text", cands, threshold = 0.5)
    }
    time("dedup_clusters_star")(d => {
      val pairs = Dedup.fuzzyPairs(
        Tables.load(spark, d, "part").groupBy("p_name").agg(min("p_partkey").as("p_partkey")),
        "p_partkey", "p_name", maxDist = 2)
      Dedup.connectedComponentsStar(pairs, "id_a", "id_b")
    })
    time("unigram_loglik")(d => Curation.unigramLogLikelihood(
      Tables.documents(spark, d), "doc_id", "text"))
    time("global_row_number")(d => Analytics.globalRowNumber(
      Tables.documents(spark, d).select(col("doc_id"), col("source")), Seq("source", "doc_id")))
    time("rolling_time_window")(d => Analytics.rollingTimeWindow(
      Tables.events(spark, d), "user_id", "ts", "event_id", "value", 7))
    time("chi_square")(d => Analytics.chiSquare(
      Tables.load(spark, d, "orders"), "o_orderstatus", "o_orderpriority"))
    time("mad_by_group")(d => Analytics.madByGroup(
      Tables.events(spark, d), "event_type", "value"))
    time("hll_sketch_merge")(d => Analytics.hllMergeEstimate(
      Analytics.hllSketchByGroup(Tables.events(spark, d), "event_type", "user_id"),
      "event_type"))
    time("substring_pairs")(d => Dedup.substringPairs(
      Tables.documents(spark, d), "doc_id", "text"))
    time("bm25_topk")(d => TextAnalysis.bm25(
      Tables.documents(spark, d), "doc_id", "text", Seq("spark", "join", "window")))
    time("boilerplate_grams")(d => Curation.boilerplateGrams(
      Tables.documents(spark, d), "doc_id", "source", "text"))
    time("inverted_index")(d => TextAnalysis.invertedIndex(
      Tables.documents(spark, d), "doc_id", "text"))
    time("sliding_distinct")(d => Analytics.slidingDistinct(
      Tables.events(spark, d), "event_type", "user_id", "ts", 7))
    time("temperature_sample")(d => Splits.temperatureSample(
      Tables.documents(spark, d), "lang", "doc_id", 200L))
    time("markov_transitions")(d => Analytics.markovTransitions(
      Tables.events(spark, d), "user_id", "ts", "event_id", "event_type"))
    time("assoc_rules")(d => Analytics.associationRules(
      Tables.events(spark, d), "user_id", "ts", "event_type"))
    time("pagerank")(d => SparkEntry.queries("q110_pagerank")(spark, d))
    time("bigram_loglik")(d => Curation.bigramLogLikelihood(
      Tables.documents(spark, d), "doc_id", "text"))
    time("cdc_compact")(d => Analytics.cdcCompact(
      Tables.events(spark, d).select("user_id", "ts", "event_id", "event_type", "value"),
      "user_id", "ts", "event_id", "event_type", "error"))
    time("snapshot_diff")(d => SparkEntry.queries("q115_snapshot_diff")(spark, d))
    time("decayed_score")(d => Analytics.decayedScore(
      Tables.events(spark, d), "user_id", "ts", "value", 7.0))
    time("sorted_neighborhood")(d => SparkEntry.queries("q117_sorted_neighborhood")(spark, d))
    time("event_pattern")(d => SparkEntry.queries("q118_event_pattern")(spark, d))
    time("weighted_sample")(d => Splits.weightedSample(
      Tables.documents(spark, d), "lang", "doc_id", "n_chars", 10))
    time("feature_hash")(d => TextAnalysis.featureHash(
      Tables.documents(spark, d), "doc_id", "text"))
    time("token_entropy")(d => Curation.tokenEntropy(
      Tables.documents(spark, d), "doc_id", "text"))
    time("bigram_novelty")(d => Curation.bigramNovelty(
      Tables.documents(spark, d), "doc_id", "text"))
    time("corpus_pipeline")(d => SparkEntry.queries("q123_corpus_pipeline")(spark, d))
    time("bloom_semi_join")(d => SparkEntry.queries("q131_bloom_semi")(spark, d))
    time("gram_matrix")(d => Similarity.gramMatrix(
      spark.read.parquet(s"$d/embeddings.parquet"), "embedding"))
    time("triangle_counts")(d => SparkEntry.queries("q133_triangles")(spark, d))
    time("negative_sample")(d => Splits.negativeSample(
      Tables.documents(spark, d), "doc_id", "text", 5))
    time("hard_negatives")(d => Similarity.hardNegatives(
      spark.read.parquet(s"$d/embeddings.parquet"), "vec_id", "embedding",
      "label", Seq(0L, 1L, 2L, 3L), 5))
    time("class_balance")(d => Splits.classBalance(
      spark.read.parquet(s"$d/embeddings.parquet"), "vec_id", "label"))
    time("sparse_doc_cosine")(d => Dedup.sparseDocCosine(
      Tables.documents(spark, d), "doc_id", "text"))
    time("label_propagation")(d => SparkEntry.queries("q139_label_prop")(spark, d))
    time("global_median")(d => Analytics.exactGlobalMedian(
      Tables.events(spark, d), "value"))
    time("grouped_auc")(d => Evaluation.groupedAuc(Tables.orders(spark, d),
      "o_orderpriority", col("o_orderstatus") === "F", "o_totalprice"))
    time("psi_drift")(d => { val ev = Tables.events(spark, d)
      Evaluation.psi(ev.filter(col("event_type") === "view"),
        ev.filter(col("event_type") === "purchase"), "value", 10) })
    time("ks_test")(d => { val ev = Tables.events(spark, d)
      Evaluation.ksTest(ev.filter(col("event_type") === "click"),
        ev.filter(col("event_type") === "view"), "value") })
    time("js_divergence")(d => Evaluation.jsDivergence(
      Tables.documents(spark, d), "source", "text"))
    time("zipf_fit")(d => TextAnalysis.zipfFit(Tables.documents(spark, d), "text"))
    time("encoding_anomalies")(d => TextAnalysis.encodingAnomalies(
      Tables.documents(spark, d), "doc_id", "text"))
    time("integrity_audit")(d => Issues.orphanCounts("lineitem->orders",
      Tables.lineitem(spark, d), "l_orderkey", Tables.orders(spark, d), "o_orderkey"))
    time("topn_ties")(d => Relational.topNPerGroupWithTies(Tables.events(spark, d), 3))
    time("calibration")(d => Evaluation.calibration(Tables.orders(spark, d),
      (col("o_orderkey") % 1000) / lit(1000.0), col("o_orderstatus") === "F", 10))
    time("lift_table")(d => Evaluation.liftTable(Tables.orders(spark, d),
      col("o_totalprice"), col("o_orderstatus") === "F"))
    time("ab_test")(d => Evaluation.abTest(
      Tables.orders(spark, d).withColumn("arm", pmod(col("o_orderkey"), lit(3))),
      "arm", col("o_orderstatus") === "F", "0"))
    time("mutual_info")(d => Evaluation.mutualInfo(
      Tables.orders(spark, d), "o_orderpriority", "o_orderstatus"))
    time("survival_km")(d => SparkEntry.queries("q157_survival")(spark, d))
    time("spearman")(d => Analytics.spearmanByGroup(
      Tables.lineitem(spark, d), "l_returnflag", "l_quantity", "l_extendedprice"))
    time("benford_audit")(d => Analytics.benfordAudit(
      Tables.lineitem(spark, d), col("l_extendedprice")))
    time("stratified_split")(d => Splits.stratifiedSplit(
      Tables.documents(spark, d), "doc_id", "source"))
    time("weighted_pctile")(d => Analytics.weightedPercentilesByGroup(
      Tables.lineitem(spark, d), "l_returnflag", "l_extendedprice", "l_quantity",
      Seq(500, 900)))
    time("automation_sig")(d => Analytics.automationSignature(
      Tables.events(spark, d), "user_id", "ts", "event_id"))
    time("containment")(d => {
      val corpus = Tables.documents(spark, d).select(col("doc_id"), col("text"))
      val cands = Dedup.minhashCandidates(corpus, "doc_id", "text")
      Dedup.containmentRerank(corpus, "doc_id", "text", cands)
    })
    time("dim_profile")(d => Similarity.dimProfile(
      spark.read.parquet(s"$d/embeddings.parquet"), "embedding"))
    time("cusum + acf (agg series)")(d => {
      val daily = Tables.events(spark, d)
        .groupBy(expr("unix_timestamp(ts) div 86400").as("day"))
        .agg(count(lit(1)).as("cnt"))
      Evaluation.cusum(daily, "day", "cnt").unionAll(
        Analytics.acf(daily, "day", "cnt", 7)
          .select(col("lag"), col("n_pairs"), col("acf"), col("acf"), lit(false), lit(false)))
    })
    time("k_anonymity")(d => Privacy.kAnonymityAudit(
      Tables.orders(spark, d).withColumn("bucket", pmod(col("o_custkey"), lit(5000))),
      Seq("bucket", "o_orderpriority"), "o_orderstatus", 8, 2))
    time("cohen_kappa")(d => SparkEntry.queries("q172_kappa")(spark, d))
    time("dsir_weights")(d => Curation.importanceWeights(
      Tables.documents(spark, d), "doc_id", "text", col("lang") === "en"))
    // cluster granularity fixed at 10 labels ⇒ pairs grow ~N² by design;
    // the published answer is more clusters at more data (√n cells), so
    // the per-CLUSTER cost is what must stay flat — checked by the spec
    time("semantic_dedup (10 fixed clusters)")(d => Similarity.semanticDedup(
      spark.read.parquet(s"$d/embeddings.parquet"), "vec_id", "embedding", "label", 0.95))
    time("ranking_ndcg")(d => Evaluation.rankingMetrics(
      Tables.orders(spark, d), "o_custkey", "o_orderkey", "o_totalprice",
      col("o_orderpriority") === "1-URGENT", 5))
    time("rrf_fusion")(d => Evaluation.reciprocalRankFusion(
      Tables.orders(spark, d).select(col("o_custkey"), col("o_orderkey"),
        col("o_totalprice").as("price"), unix_timestamp(col("o_orderdate")).as("recency")),
      "o_custkey", "o_orderkey", Seq("price", "recency")))
    time("top_p_cap")(d => Splits.topPByGroup(
      Tables.documents(spark, d), "source", "doc_id", "n_chars", 700))
    time("bucket_batches")(d => Curation.lengthBucketBatches(
      Tables.documents(spark, d), "doc_id", "text", Seq(16, 32, 64, 128), 8))
    time("quant_profile")(d => Similarity.quantizationProfile(
      spark.read.parquet(s"$d/embeddings.parquet"), "vec_id", "embedding"))
    time("linkage_score")(d => {
      val reps = Tables.load(spark, d, "part")
        .groupBy("p_name").agg(min("p_partkey").as("p_partkey"))
      Dedup.linkageScore(Dedup.fuzzyPairs(reps, "p_partkey", "p_name", 2),
        "id_a", "id_b", Tables.load(spark, d, "part"), "p_partkey",
        Seq(("p_brand", 0.9, 0.04), ("p_type", 0.85, 0.02), ("p_size", 0.8, 0.02)))
    })
    time("split_leakage")(d => Splits.crossSplitLeakage(
      Tables.documents(spark, d), "doc_id", "text"))
    // n_queries grows with the corpus here (every vector is a query), so
    // work is n²/20² — the eval-set contract; ratio is expected ~N², what
    // must stay flat is the per-query cost (ratio/400 here)
    time("knn_label_noise (n^2 by contract)")(d => Similarity.knnLabelNoise(
      spark.read.parquet(s"$d/embeddings.parquet"), "vec_id", "embedding", "label", 5))
    time("walk_forward_folds")(d => Splits.walkForwardFolds(
      Tables.events(spark, d), "ts", "user_id", 4, 3600))
    time("anova_f")(d => Evaluation.anovaF(Tables.load(spark, d, "lineitem"),
      "l_returnflag", col("l_quantity").cast("decimal(18,2)")))
    time("pareto_frontier")(d => Analytics.paretoFrontier(
      Tables.load(spark, d, "part").select(col("p_partkey"), col("p_size"),
        (col("p_retailprice") * 100).cast("long").as("cents")),
      "p_partkey", "p_size", "cents"))
    time("woe_iv")(d => Evaluation.woeIv(Tables.load(spark, d, "orders"),
      col("o_orderstatus") =!= "F", "o_totalprice", 10))
    time("label_silhouette")(d => Similarity.labelSilhouette(
      spark.read.parquet(s"$d/embeddings.parquet"), "vec_id", "embedding", "label"))
    time("keyset_page")(d => Relational.keysetPage(Tables.load(spark, d, "orders"),
      Seq("o_orderdate" -> java.time.Instant.parse("1998-01-01T00:00:00Z"),
        "o_orderkey" -> 7500L), 50))
    time("rendezvous_shards")(d => Splits.rendezvousShards(
      Tables.documents(spark, d).select("doc_id"), "doc_id", 8))
    time("zone_manifest")(d => Analytics.zoneMapManifest(
      Tables.load(spark, d, "orders"),
      date_format(col("o_orderdate"), "yyyy-MM"), Seq("o_orderkey", "o_totalprice")))
    time("debounce")(d => Analytics.debounce(Tables.events(spark, d),
      "user_id", "event_type", "ts", "event_id", 30))
    time("scd2_lookup")(d => RangeJoin.scd2Lookup(
      Tables.load(spark, d, "orders").select(col("o_orderkey"), col("o_custkey"),
        (col("o_orderdate") + expr("INTERVAL 1 DAY")).as("ts")),
      "o_custkey", "ts",
      Analytics.scd2(Tables.load(spark, d, "orders"), "o_custkey",
        "o_orderstatus", "o_orderdate"),
      "o_custkey", "valid_from", "valid_to"))
    time("twap")(d => Analytics.timeWeightedAvg(Tables.events(spark, d),
      "user_id", "ts", "value", "event_id"))
    time("expectations")(d => Issues.expectationReport(
      Tables.load(spark, d, "orders"), Seq(
        "key_positive" -> (col("o_orderkey") > 0),
        "price_range" -> (col("o_totalprice") > 0 && col("o_totalprice") < 600000))))
    time("top_paths")(d => Analytics.topPaths(Tables.events(spark, d),
      "user_id", "ts", "event_id", "event_type", 6, 20))
    time("image_neardups")(d => Multimodal.imageNearDupPairs(
      Multimodal.synthesizePatternedImages(
        Tables.documents(spark, d).select("doc_id"), "doc_id"), "doc_id", 2))
    time("join_overlap_estimate")(d => Analytics.joinKeyOverlapEstimate(
      Tables.load(spark, d, "orders"), "o_custkey",
      Tables.load(spark, d, "customer"), "c_custkey"))
    time("incremental_lsh_probe")(d => {
      val corpus = Tables.documents(spark, d).select(col("doc_id"), col("text"))
      val idx = Dedup.minhashBandIndex(corpus, "doc_id", "text")
      Dedup.minhashCandidatesAgainstIndex(
        corpus.select((col("doc_id") + 1000000).as("doc_id"), col("text")),
        "doc_id", "text", idx)
    })
    time("missing_partitions")(d => Issues.missingPartitions(
      Tables.events(spark, d), "event_type", "ts"))
    time("flatten_json")(d => Analytics.flattenJson(
      Tables.events(spark, d).select("event_id", "props"), "props", "k BIGINT"))
    time("cluster_aware_split")(d => {
      val docs = Tables.documents(spark, d).select(col("doc_id"), col("text"))
      val a = docs.select(col("doc_id").as("doc_id_a"), md5(col("text")).as("h"))
      val b = docs.select(col("doc_id").as("doc_id_b"), md5(col("text")).as("h"))
      Splits.clusterAwareSplit(docs, "doc_id",
        a.join(b, "h").where(col("doc_id_a") < col("doc_id_b"))
          .select("doc_id_a", "doc_id_b"), "doc_id_a", "doc_id_b")
    })
    time("kcenter_select")(d => Similarity.kCenterSelect(
      spark.read.parquet(s"$d/embeddings.parquet"), "vec_id", "embedding", 4))
    time("jackknife_ratio")(d => Evaluation.jackknifeRatioSE(
      Tables.load(spark, d, "orders"), pmod(col("o_custkey"), lit(16)),
      when(col("o_orderstatus") === "F", col("o_totalprice")).otherwise(lit(0.0))
        .cast("decimal(18,2)"),
      col("o_totalprice").cast("decimal(18,2)")))
    time("dedup_report")(d => Dedup.dedupReportBySource(
      Tables.documents(spark, d), "source", "doc_id", "text"))
    time("threshold_sweep")(d => Evaluation.thresholdSweep(
      Tables.load(spark, d, "orders"),
      (col("o_orderkey") % 1000) / lit(1000.0), col("o_orderstatus") === "F"))
    time("brier")(d => Evaluation.brierDecomposition(
      Tables.load(spark, d, "orders"),
      (col("o_orderkey") % 1000) / lit(1000.0), col("o_orderstatus") === "F"))
    time("corr_matrix")(d => Analytics.correlationMatrix(
      Tables.load(spark, d, "lineitem"), Seq(
        "l_discount" -> col("l_discount").cast("decimal(18,6)"),
        "l_extendedprice" -> col("l_extendedprice").cast("decimal(18,6)"),
        "l_quantity" -> col("l_quantity").cast("decimal(18,6)"),
        "l_tax" -> col("l_tax").cast("decimal(18,6)"))))
    time("freshness")(d => Analytics.freshnessReport(
      Tables.events(spark, d), "event_type", "ts"))
    time("kanon_repair")(d => Privacy.kAnonymityRepair(
      Tables.load(spark, d, "orders"), Seq(
        "day_priority" -> Seq(date_format(col("o_orderdate"), "yyyy-MM-dd"),
          col("o_orderpriority")),
        "year" -> Seq(date_format(col("o_orderdate"), "yyyy"))), 32))
    time("blocking_quality")(d => {
      val names = Tables.load(spark, d, "part").groupBy("p_name")
        .agg(min("p_partkey").as("p_partkey"))
      Dedup.blockingQuality(
        Dedup.sortedNeighborhoodPairs(names, "p_partkey", "p_name", maxDist = 3),
        "id_a", "id_b",
        names.select(col("p_partkey").as("id_a"), col("p_partkey").as("id_b")),
        "id_a", "id_b", 1000000L)
    })
    time("drift_report")(d => {
      val ev = Tables.events(spark, d).select(col("event_type"), col("value"),
        col("ts").cast("long").cast("double").as("es"))
      Evaluation.driftReport(ev.filter(col("event_type") === "view").drop("event_type"),
        ev.filter(col("event_type") === "purchase").drop("event_type"), Seq("es", "value"))
    })
    time("bpe_pairs")(d => Curation.bpePairCounts(
      Tables.documents(spark, d), "text", 20))
    time("bpe_train")(d => Curation.bpeTrain(
      Tables.documents(spark, d), "text", 8))
    time("pca_project")(d => Similarity.pcaProject(
      spark.read.parquet(s"$d/embeddings.parquet"), "vec_id", "embedding", 4))
    time("blocklist")(d => TextAnalysis.blocklistScreen(
      Tables.documents(spark, d), "doc_id", "text",
      Seq("value", "table", "spark", "query", "batch", "filter", "join", "data")))
    time("bootstrap_ci")(d => Analytics.poissonBootstrapCI(
      Tables.events(spark, d), "event_id", "value"))
    time("eigencentrality")(d => {
      val li = spark.read.parquet(s"$d/lineitem.parquet")
        .groupBy(col("l_orderkey").as("k"))
        .agg(sort_array(collect_set(col("l_partkey"))).as("ps"))
        .select(posexplode(col("ps")).as(Seq("i", "pa")), col("ps"))
        .select(col("pa"), explode(slice(col("ps"), col("i") + lit(2), size(col("ps")))).as("pb"))
      Graph.eigenCentrality(li, "pa", "pb")
    })
    time("item_cf")(d => Similarity.itemItemCF(
      Tables.events(spark, d).withColumn("item",
        get_json_object(col("props"), "$.k").cast("long")),
      "user_id", "item"))
    time("gopher_rules")(d => Curation.gopherRules(
      Tables.documents(spark, d), "doc_id", "text"))
    time("rfm")(d => Reports.rfmSegments(
      spark.read.parquet(s"$d/orders.parquet"),
      spark.read.parquet(s"$d/customer.parquet"), "1998-12-01"))
    time("tail_index")(d => Analytics.hillTailIndex(
      spark.read.parquet(s"$d/orders.parquet"), "o_orderkey", "o_totalprice"))
    time("readability")(d => TextAnalysis.readability(
      Tables.documents(spark, d), "doc_id", "text"))
    time("stl")(d => Analytics.seasonalDecompose(Tables.events(spark, d), "ts"))
    time("erasure_audit")(d => {
      val cust = spark.read.parquet(s"$d/customer.parquet")
      Relational.erasureAudit(
        cust.filter(pmod(col("c_custkey"), lit(97)) === 0), cust,
        spark.read.parquet(s"$d/orders.parquet"),
        spark.read.parquet(s"$d/lineitem.parquet"))
    })
    time("segment_dedup")(d => Curation.segmentDedup(
      Tables.documents(spark, d), "doc_id", "text"))
    time("winnow_pairs")(d => TextAnalysis.winnowPairs(
      Tables.documents(spark, d), "doc_id", "text"))
    time("grid_join")(d => RangeJoin.gridProximityJoin(
      spark.read.parquet(s"$d/customer.parquet").select(col("c_custkey").as("id"),
        pmod(conv(substring(md5(concat(lit("gx:"), col("c_custkey").cast("string"))), 1, 8), 16, 10).cast("long"), lit(10000000L)).as("x"),
        pmod(conv(substring(md5(concat(lit("gy:"), col("c_custkey").cast("string"))), 1, 8), 16, 10).cast("long"), lit(10000000L)).as("y")),
      "id", "x", "y", 100000L))
    time("naive_bayes")(d => Evaluation.naiveBayes(
      Tables.documents(spark, d), "doc_id", "text", "lang"))
    time("target_encode")(d => Analytics.targetEncode(
      spark.read.parquet(s"$d/orders.parquet"), "o_orderkey", "o_custkey", "o_totalprice"))
    time("holt")(d => Analytics.holtForecast(Tables.events(spark, d), "event_type", "ts"))
    time("isotonic")(d => Evaluation.isotonicFit(
      spark.read.parquet(s"$d/orders.parquet"), "o_totalprice",
      col("o_orderstatus") === "F", 0.0, 600000.0, 16))
    time("conformal")(d => Evaluation.conformalIntervals(
      spark.read.parquet(s"$d/orders.parquet"), "o_orderkey", "o_orderpriority", "o_totalprice"))
    time("heaps")(d => TextAnalysis.heapsFit(Tables.documents(spark, d), "doc_id", "text"))
    time("mannwhitney")(d => Evaluation.mannWhitney(
      Tables.orders(spark, d).filter(col("o_orderstatus").isin("F", "O")),
      col("o_totalprice").cast("decimal(18,2)"), col("o_orderstatus") === "F"))
    time("bh_fdr")(d => Evaluation.benjaminiHochberg(
      Evaluation.shareTestPValues(Tables.orders(spark, d), "o_orderpriority"), "key", "p"))
    time("kendall_pairs")(d => Analytics.kendallWithinGroups(
      Tables.lineitem(spark, d), "l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice"))
    time("kde_grid")(d => Analytics.kdeGrid(
      Tables.orders(spark, d), col("o_totalprice"), 0.0, 500000.0, 21, 25000.0))
    time("streaks")(d => Analytics.streakHistogram(
      Tables.orders(spark, d), "o_custkey", col("o_orderdate")))
    time("simpson")(d => Evaluation.simpsonFlips(
      Tables.orders(spark, d), "o_orderpriority", "o_orderstatus", col("o_totalprice")))
    time("mcnemar")(d => Evaluation.mcnemar(Tables.events(spark, d), "user_id",
      col("event_type") === "purchase" && col("ts") < lit("2024-01-16").cast("timestamp"),
      col("event_type") === "purchase" && col("ts") >= lit("2024-01-16").cast("timestamp")))
    time("bradley_terry")(d => SparkEntry.queries("q265_bradley_terry")(spark, d))
    time("modularity")(d => SparkEntry.queries("q266_modularity")(spark, d))
    time("asof_native")(d => SparkEntry.queries("q267_asof_native")(spark, d))
    time("delta_join")(d => SparkEntry.queries("q268_delta_join")(spark, d))
    time("stump")(d => Evaluation.bestSplit(Tables.orders(spark, d),
      col("o_totalprice").cast("decimal(18,2)"), col("o_orderstatus") === "F"))
    time("ipw")(d => Evaluation.ipwEffect(Tables.events(spark, d), "event_type",
      col("user_id") % 2 === 1, col("value")))
    time("join_estimate")(d => Analytics.joinSizeEstimate(
      Tables.orders(spark, d), Tables.lineitem(spark, d), "o_orderkey", "l_orderkey"))
    time("fd_discovery")(d => Analytics.functionalDependencies(
      Tables.orders(spark, d), Seq(("o_orderkey", "o_custkey"), ("o_custkey", "o_orderpriority"))))
    time("url_dedup")(d => SparkEntry.queries("q274_url_dedup")(spark, d))
    time("dispersion")(d => Analytics.dispersionCheck(Tables.events(spark, d), "event_type", "ts"))
    time("copula")(d => Analytics.copulaGrid(Tables.lineitem(spark, d), "l_quantity", "l_extendedprice", 10))
    time("cat_assoc")(d => SparkEntry.queries("q277_cat_assoc")(spark, d))
    time("levene")(d => Evaluation.leveneTest(Tables.orders(spark, d), "o_orderpriority", col("o_totalprice")))
    time("hellinger")(d => SparkEntry.queries("q279_hellinger")(spark, d))
    time("mmd")(d => SparkEntry.queries("q280_mmd")(spark, d))
    time("durbin_watson")(d => Analytics.durbinWatson(Tables.events(spark, d), "ts"))
    time("tukey")(d => Evaluation.tukeyPairs(Tables.orders(spark, d), "o_orderpriority", col("o_totalprice").cast("decimal(18,2)")))
    time("sprt")(d => Evaluation.sprt(Tables.events(spark, d), "ts", col("event_type") === "purchase", 0.18, 0.22))
    time("audio_energy")(d => graft.operators.Multimodal.audioEnergyProfile(
      graft.operators.Multimodal.synthesizeAudio(Tables.documents(spark, d), "doc_id"), "doc_id"))
    time("eb_shrinkage")(d => Evaluation.ebShrink(Tables.lineitem(spark, d), "l_partkey",
      col("l_returnflag") === "R"))
    time("slo_burn")(d => Analytics.sloBurn(Tables.events(spark, d), "ts",
      col("event_type") === "error", budget = 0.25))
    time("markov_entropy")(d => Analytics.markovEntropyRate(Tables.events(spark, d),
      "user_id", "ts", "event_id", "event_type"))
    time("kfold_cv")(d => Analytics.kFoldCv(Tables.orders(spark, d), "o_orderkey",
      "o_orderpriority", "o_totalprice"))
    time("vocab_coverage")(d => TextAnalysis.vocabCoverage(Tables.documents(spark, d), "text"))
    time("kruskal")(d => Evaluation.kruskalWallis(Tables.orders(spark, d),
      "o_orderpriority", col("o_totalprice").cast("decimal(18,2)")))
    time("wasserstein")(d => Evaluation.wasserstein1(
      Tables.orders(spark, d).filter(col("o_orderstatus").isin("F", "O")),
      col("o_totalprice"), col("o_orderstatus") === "F"))
    time("cvm")(d => Evaluation.cramerVonMises(
      Tables.orders(spark, d).filter(col("o_orderstatus").isin("F", "O")),
      col("o_totalprice").cast("decimal(18,2)"), col("o_orderstatus") === "F"))
    // graph ops get a GENERATED graph: table replication multiplies
    // co-occurrence pair weights (parts are dim-kept), which turns the
    // sparse wt≥2 signal graph into the dense weight-1 graph — a harness
    // artifact, not an operator property. A deterministic small-world
    // ring (each node → +1, +7, +31) scales node count with the factor.
    def ringGraph(d: String): DataFrame = {
      val n = if (d == src) 100000L else 100000L * factor
      spark.range(n).select(col("id").as("a"), ((col("id") + 1) % n).as("b"))
        .unionAll(spark.range(n).select(col("id").as("a"), ((col("id") + 7) % n).as("b")))
        .unionAll(spark.range(n).select(col("id").as("a"), ((col("id") + 31) % n).as("b")))
    }
    time("adamic_adar")(d => Graph.adamicAdar(ringGraph(d), "a", "b",
      minCommon = 1, maxDegree = 10000, topK = 50))
    time("harmonic")(d => Graph.harmonicCentrality(ringGraph(d), "a", "b",
      sources = Seq(1L, 2L, 3L, 4L, 5L, 6L), maxHops = 3))
    time("theil")(d => Analytics.theilDecomposition(
      Tables.documents(spark, d), "source", col("n_chars")))
    time("lexical_diversity")(d => TextAnalysis.lexicalDiversity(
      Tables.documents(spark, d), "lang", "text"))
    time("rouge")(d => SparkEntry.queries("q302_rouge")(spark, d))
    time("pinball")(d => Evaluation.pinballLoss(Tables.orders(spark, d),
      "o_orderpriority", (col("o_totalprice").cast("decimal(18,2)") * 100).cast("long"),
      col("o_orderdate") < lit("1997-01-01").cast("date"), Seq(100, 500, 900)))
    time("forecast_eval")(d => SparkEntry.queries("q297_forecast_eval")(spark, d))
    time("jarque_bera")(d => Evaluation.jarqueBera(Tables.lineitem(spark, d),
      "l_returnflag", col("l_quantity").cast("long")))
    time("runs_test")(d => SparkEntry.queries("q306_runs_test")(spark, d))
    time("pq_adc")(d => Similarity.pqTopK(
      spark.read.parquet(s"$d/embeddings.parquet"), "vec_id", "embedding",
      Seq(100L, 101L, 102L), 10))
    time("nelson_aalen")(d => SparkEntry.queries("q311_nelson_aalen")(spark, d))
    time("anova2")(d => Evaluation.anovaTwoWay(Tables.lineitem(spark, d),
      "l_returnflag", "l_linestatus", col("l_quantity").cast("long")))
    time("digit_uniformity")(d => Analytics.lastDigitUniformity(
      Tables.orders(spark, d), col("o_totalprice")))
    time("soundex_blocks")(d => SparkEntry.queries("q314_soundex_blocks")(spark, d))
    time("friedman")(d => SparkEntry.queries("q315_friedman")(spark, d))
    time("mantel_haenszel")(d => SparkEntry.queries("q316_mantel_haenszel")(spark, d))
    time("dunn")(d => Evaluation.dunnTest(Tables.orders(spark, d),
      "o_orderpriority", col("o_totalprice").cast("decimal(18,2)")))
    time("cochran_q")(d => SparkEntry.queries("q318_cochran_q")(spark, d))
    time("page_trend")(d => SparkEntry.queries("q319_page_trend")(spark, d))
    time("partial_corr")(d => SparkEntry.queries("q320_partial_corr")(spark, d))
    time("seasonal_mk")(d => SparkEntry.queries("q321_seasonal_mk")(spark, d))
    time("jonckheere")(d => SparkEntry.queries("q322_jonckheere")(spark, d))
    time("morans_i")(d => SparkEntry.queries("q323_morans_i")(spark, d))
    time("getis_ord")(d => SparkEntry.queries("q324_getis_ord")(spark, d))
    time("seq_patterns")(d => SparkEntry.queries("q338_seq_patterns")(spark, d))
    time("loo_influence")(d => SparkEntry.queries("q339_loo_influence")(spark, d))
    time("weibull")(d => SparkEntry.queries("q340_weibull")(spark, d))
    time("reciprocal_match")(d => SparkEntry.queries("q341_reciprocal_match")(spark, d))
    time("periodogram")(d => SparkEntry.queries("q342_periodogram")(spark, d))
    // NOTE dbscan on replicated embeddings: vec_id offsets keep ids unique
    // but coordinates replicate EXACTLY, so density (and the neighbor
    // count per point) multiplies by the factor — expect superlinear pair
    // counts; the generated-offset variant below shifts x by k·10 per copy
    // to keep density constant (the honest scale read for spatial ops)
    time("funnel_timing")(d => SparkEntry.queries("q358_funnel_timing")(spark, d))
    time("kll_quantiles")(d => SparkEntry.queries("q356_kll_quantiles")(spark, d))
    time("theta_setops")(d => SparkEntry.queries("q357_theta_setops")(spark, d))
    time("percentile_ci")(d => SparkEntry.queries("q354_percentile_ci")(spark, d))
    time("ridge2")(d => SparkEntry.queries("q355_ridge2")(spark, d))
    time("count_min")(d => SparkEntry.queries("q350_count_min")(spark, d))
    time("rdd_jump")(d => SparkEntry.queries("q351_rdd")(spark, d))
    time("wald_iv")(d => SparkEntry.queries("q352_wald_iv")(spark, d))
    time("mahalanobis")(d => SparkEntry.queries("q347_mahalanobis")(spark, d))
    time("rate_ratio")(d => SparkEntry.queries("q348_rate_ratio")(spark, d))
    time("mixed_script")(d => SparkEntry.queries("q349_mixed_script")(spark, d))
    time("domain_logodds")(d => SparkEntry.queries("q344_domain_logodds")(spark, d))
    time("rake_weights")(d => SparkEntry.queries("q345_rake_weights")(spark, d))
    time("truncation_fidelity")(d => SparkEntry.queries("q346_truncation_fidelity")(spark, d))
    time("recursive_ldiv")(d => SparkEntry.queries("q359_recursive_ldiv")(spark, d))
    time("assortativity")(d => SparkEntry.queries("q360_assortativity")(spark, d))
    // hl_shift / rbo / drawdown: date-grain or top-D bounded — pair count
    // and prefix depth are SF-invariant, only the pre-aggregate scans grow
    time("hl_shift")(d => SparkEntry.queries("q361_hl_shift")(spark, d))
    time("drawdown")(d => SparkEntry.queries("q362_drawdown")(spark, d))
    time("rbo")(d => SparkEntry.queries("q363_rbo")(spark, d))
    time("holm")(d => SparkEntry.queries("q364_holm")(spark, d))
    time("kneser_ney")(d => SparkEntry.queries("q365_kneser_ney")(spark, d))
    time("c4_rules")(d => SparkEntry.queries("q366_c4_rules")(spark, d))
    time("compaction_plan")(d => SparkEntry.queries("q367_compaction_plan")(spark, d))
    time("vocab_turnover")(d => SparkEntry.queries("q368_vocab_turnover")(spark, d))
    time("dbscan (density-const)") { d =>
      val base = spark.read.parquet(s"$d/embeddings.parquet")
      val pts = base.select(col("vec_id"),
        (element_at(col("embedding"), 1) +
          (col("vec_id") / lit(10000000L)).cast("long").cast("float") * lit(10f)).as("x"),
        element_at(col("embedding"), 2).as("y"))
      Similarity.dbscanClusters(pts, "vec_id", col("x"), col("y"), eps = 0.04, minPts = 5)
    }
    time("lof (density-const)") { d =>
      // same replica-shift as dbscan: stacked copies would multiply
      // spatial density (pairs ×replicas²), which no real 20× corpus does
      val base = spark.read.parquet(s"$d/embeddings.parquet")
      val pts = base.select(col("vec_id"),
        (element_at(col("embedding"), 1) +
          (col("vec_id") / lit(10000000L)).cast("long").cast("float") * lit(10f)).as("x"),
        element_at(col("embedding"), 2).as("y"))
      Similarity.localOutlierFactor(pts, "vec_id", col("x"), col("y"),
        radius = 0.1, k = 5, topN = 20)
    }
    time("interarrival")(d => SparkEntry.queries("q370_interarrival")(spark, d))
    time("rmst")(d => SparkEntry.queries("q374_rmst")(spark, d))
    time("spiegelhalter")(d => SparkEntry.queries("q375_spiegelhalter")(spark, d))
    // generated ring graph (the adamic_adar pattern): the replicated
    // co-occurrence graph inflates pair WEIGHTS superlinearly (dims 1×),
    // which no real 20× corpus does — measured 8.2× on the fact graph
    time("rich_club")(d => Graph.richClub(ringGraph(d), "a", "b", Seq(2, 4)))
    time("xmr")(d => SparkEntry.queries("q377_xmr")(spark, d))
    time("half_life")(d => SparkEntry.queries("q379_half_life")(spark, d))
    time("dow_envelope")(d => SparkEntry.queries("q380_dow_envelope")(spark, d))
    time("token_burstiness")(d => SparkEntry.queries("q381_token_burstiness")(spark, d))
    time("strat_ate")(d => SparkEntry.queries("q382_strat_ate")(spark, d))
    time("qini")(d => SparkEntry.queries("q383_qini")(spark, d))
    time("by_fdr")(d => SparkEntry.queries("q384_by_fdr")(spark, d))
    time("scd2")(d => SparkEntry.queries("q385_scd2")(spark, d))
    time("deming")(d => SparkEntry.queries("q386_deming")(spark, d))
    time("abc")(d => SparkEntry.queries("q387_abc")(spark, d))
    time("seasonal_strength")(d => SparkEntry.queries("q388_seasonal_strength")(spark, d))
    time("bland_altman")(d => SparkEntry.queries("q389_bland_altman")(spark, d))
    time("chao1")(d => SparkEntry.queries("q390_chao1")(spark, d))
    time("wilson")(d => SparkEntry.queries("q391_wilson")(spark, d))
    time("ratio_metric")(d => SparkEntry.queries("q392_ratio_metric")(spark, d))
    time("group_sequential")(d => SparkEntry.queries("q378_group_sequential")(spark, d))
    time("curve_locality")(d => SparkEntry.queries("q371_curve_locality")(spark, d))
    time("yuen")(d => SparkEntry.queries("q372_yuen")(spark, d))
    time("qte")(d => SparkEntry.queries("q373_qte")(spark, d))

    spark.stop()
  }
}

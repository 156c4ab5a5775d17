package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.{Cols, MisraGries}
import graft.operators._
import graft.sources.{CsvIngest, Sinks}
import graft.streaming.EventStream

/** Driver contract — see /root/repo/SURVEY.md §2 for the inventory each
  * query key maps to. Every ★ operator has BOTH a `queries` entry and an
  * `oracleSql` entry (DuckDB, same parquet tables); ☆ operators (not
  * SQL-expressible: LSH, ANN, streaming, CSV sniffing, multimodal) have a
  * `queries` entry plus a ScalaTest spec.
  *
  * Oracle-parity rules used throughout:
  *  - every computed column is aliased IDENTICALLY in Spark and SQL;
  *  - every query ends in a deterministic total ORDER BY;
  *  - aggregates of doubles are cast to DECIMAL on both sides (exact,
  *    order-independent), conditional counts use COUNT(CASE…)/count(when…)
  *    so both engines produce BIGINT;
  *  - regexes are written in the RE2 ∩ java.util.regex common dialect.
  */
object SparkEntry {

  /** Boundary rule: DECIMAL never leaves the engine. Aggregation stays
    * decimal internally (exact, order-independent), but every FINAL output
    * column is cast to double here, mirrored by an outer CAST(… AS DOUBLE)
    * in the oracle SQL. Rationale: the driver hashes the Spark parquet
    * (decimal128 → `Decimal('7.9000')`) differently from the DuckDB result
    * (decimal → float64 `7.9`) even when values are exact-equal; double is
    * the one representation both render identically. Both engines round the
    * same exact decimal to nearest-double, so equality is bit-exact. */
  private def dbl(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val cols = df.schema.fields.map { f =>
      f.dataType match {
        case _: DecimalType => col(f.name).cast("double").as(f.name)
        case _              => col(f.name)
      }
    }
    df.select(cols.toIndexedSeq: _*)
  }

  /** Part co-occurrence graph shared by the graph queries (q133/q139/q224):
    * parts sharing an order are linked; per-order fanout is items-per-order
    * (≤7), so the pair explode is bounded. ONE map-side-combined shuffle:
    * collect_set per order (dedups in the aggregate), then the a<b pairs
    * explode from the sorted set map-side — the previous distinct +
    * self-join shape paid three shuffles of the same rows for the same
    * output (measured ~2× slower at sf0.1 on every consumer). */
  private def partCooccurrenceEdges(s: SparkSession, d: String): DataFrame = {
    Tables.lineitem(s, d)
      .groupBy(col("l_orderkey").as("k"))
      .agg(sort_array(collect_set(col("l_partkey"))).as("ps"))
      .select(posexplode(col("ps")).as(Seq("i", "pa")), col("ps"))
      .select(col("pa"),
        explode(slice(col("ps"), col("i") + lit(2), size(col("ps")))).as("pb"))
  }

  /** [[partCooccurrenceEdges]] with the market-basket support floor (pair
    * co-occurs in ≥2 orders) — the q238 noise floor, now shared by every
    * ITERATIVE consumer (q231 eigencentrality, q240 PPR): the raw
    * co-occurrence graph is near-complete (avg degree ~120 at sf0.1 ⇒
    * 1.2M pairs) and densifies superlinearly with scale, so per-iteration
    * join fanout on the raw graph grows without bound while 1-off
    * co-purchases carry no centrality signal. The floor keeps the kept-pair
    * count roughly CONSTANT across sf0.01→sf0.1 (3.4k→3.6k measured) —
    * the iterative cost is decoupled from corpus size. The raw-graph
    * variants stay covered by GraphSpec's hand cases. */
  private def supportedCooccurrenceEdges(s: SparkSession, d: String): DataFrame =
    partCooccurrenceEdges(s, d)
      .groupBy("pa", "pb").agg(count(lit(1)).as("w"))
      .filter(col("w") >= 2).select("pa", "pb")

  /** Second boundary rule: nested types never leave the engine either. The
    * driver's harness sorts result rows with pandas, which cannot hash
    * array/map cells (`TypeError: unhashable type`) — so array columns are
    * emitted as JSON strings and map columns as JSON of their entry list
    * sorted by key (map iteration order is not deterministic; the sorted
    * entry list is). Scalar columns pass through untouched. */
  private def jsonized(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.types.{ArrayType, MapType, StructType}
    val cols = df.schema.fields.map { f =>
      f.dataType match {
        case _: MapType =>
          to_json(array_sort(map_entries(col(f.name)))).as(f.name)
        case _: ArrayType | _: StructType =>
          to_json(col(f.name)).as(f.name)
        case _ => col(f.name)
      }
    }
    df.select(cols.toIndexedSeq: _*)
  }

  // ------------------------------------------------------ shared derivations

  /** Synthetic-but-deterministic contact emails over `customer` — gives the
    * email-quality operators a realistic mix: ~1/7 malformed (no @), ~1/11
    * malformed (double @), rest valid. Mirrored 1:1 in the SQL oracles. */
  private def withEmail(customer: DataFrame): DataFrame =
    customer.withColumn("email",
      when(col("c_custkey") % 7 === 0,
        concat(lit("user"), col("c_custkey").cast("string"), lit("at-bad")))
      .when(col("c_custkey") % 11 === 0,
        concat(lit("user"), col("c_custkey").cast("string"), lit("@bad@bad")))
      .otherwise(concat(lit("user"), col("c_custkey").cast("string"), lit("@example.com"))))

  private val emailSql =
    """CASE WHEN c_custkey % 7 = 0 THEN 'user' || CAST(c_custkey AS VARCHAR) || 'at-bad'
      |     WHEN c_custkey % 11 = 0 THEN 'user' || CAST(c_custkey AS VARCHAR) || '@bad@bad'
      |     ELSE 'user' || CAST(c_custkey AS VARCHAR) || '@example.com' END""".stripMargin

  /** Staging rows (the reference's upload batch) derived from `orders`. */
  private def stagingFromOrders(orders: DataFrame): DataFrame =
    orders.select(col("o_orderkey"),
      concat(lit("user"), (col("o_orderkey") % 2000).cast("string"), lit("@example.com")).as("email"))

  private val stagingSql =
    "SELECT o_orderkey, 'user' || CAST(o_orderkey % 2000 AS VARCHAR) || '@example.com' AS email FROM orders"

  /** Documents corpus with planted near-duplicates (doc_id+1000000 gets the
    * original text plus a short suffix) — makes the near-dup/LSH operators'
    * outputs non-empty and deterministic at any SF. */
  private[graft] def docsWithPlantedDups(documents: DataFrame): DataFrame = {
    val base = documents.select(col("doc_id"), col("text"))
    val dups = documents.filter(col("doc_id") < 20)
      .select((col("doc_id") + 1000000).as("doc_id"),
        concat(col("text"), lit(" planted near duplicate tail")).as("text"))
    base.unionAll(dups)
  }

  private[graft] def embeddingsWithPlantedDups(embeddings: DataFrame): DataFrame = {
    val base = embeddings.select(col("vec_id"), col("embedding"))
    val dups = embeddings.filter(col("vec_id") < 10)
      .select((col("vec_id") + 1000000).as("vec_id"), col("embedding"))
    base.unionAll(dups)
  }

  // --------------------------------------------------------------- flagship

  /** Flagship: the reference's COMPLETE upload pipeline end-to-end on
    * sf0.001 data — materialize uploads as CSV files (mixed delimiters +
    * encodings, one invalid), file-validate, sniff + distributed-ingest with
    * header variation mapping and staging_row_hash, run all four IssueType
    * detections (/root/reference/src/models/issue.py:12-17) against a
    * contacts table, and promote the clean rows. Returns one summary row per
    * pipeline stage (driver smoke-checks rows > 0). */
  def entry(spark: SparkSession): DataFrame = {
    val dir = "/root/testdata/sf0.001"
    val customer = Tables.customer(spark, dir)

    // --- stage 0: uploads land as files (S3 analog); built from sf0.001 data
    val uploadDir = java.nio.file.Files.createTempDirectory("graft_flagship").toFile
    uploadDir.deleteOnExit()
    val batch = withEmail(customer)
      .select("c_custkey", "email", "c_name", "c_mktsegment").limit(60).collect()
      .map { r => // half the upload is genuinely new contacts ("+new" local part)
        val email = if (r.getLong(0) % 2 == 0) r.getString(1).replace("@", "+new@") else r.getString(1)
        (email, r.getString(2), r.getString(3))
      }
    def csvOf(rows: Seq[String], header: String, sep: Char): String =
      (header +: rows).mkString("\n").replace(',', sep)
    val up1 = new java.io.File(uploadDir, "upload1.csv")
    java.nio.file.Files.write(up1.toPath, csvOf(
      batch.take(40).toIndexedSeq.map(r => s"${r._1},${r._2},${r._3}"),
      "E-Mail,NOME,Empresa", ';').getBytes("ISO-8859-1"))
    val up2 = new java.io.File(uploadDir, "upload2.csv")
    java.nio.file.Files.write(up2.toPath, csvOf(
      batch.drop(30).toIndexedSeq.map(r => s"${r._1},${r._2},${r._3}") :+
        ",NoEmail Person,MissingCo", // a row with a blank required field
      "email_address,first name,org", ',').getBytes("UTF-8"))
    val bad = new java.io.File(uploadDir, "headeronly.csv")
    java.nio.file.Files.write(bad.toPath, "email,nome\n".getBytes("UTF-8"))
    // registered after the dir: exit-time deletion runs in reverse order,
    // and a non-empty dir cannot be deleted
    Seq(up1, up2, bad).foreach(_.deleteOnExit())

    // --- stage 1: file-level validation rejects the header-only upload
    val uploads = Seq(up1, up2, bad).map(_.getAbsolutePath)
    val accepted = uploads.filter(p => CsvIngest.validateFile(p).isRight)

    // --- stage 2: sniff + distributed parse + header mapping + row hash
    val staged = accepted.map(p => CsvIngest.ingest(spark, p))
      .reduce(_.unionByName(_, allowMissingColumns = true))

    // --- stage 3: issue detection against the existing contacts table
    val contacts = withEmail(customer).select(col("email").as("contact_email"))
    val invalid = Issues.invalidEmails(staged, "email")
    val missing = Issues.missingRequired(staged, Seq("email", "first_name"))
    val dupKeys = Issues.duplicateKeys(staged, "company", "email") // batch = upload's company col
    val existing = Issues.existingKeys(staged, contacts, "email", "contact_email", anti = false)

    // --- stage 4: promote = staged minus every flagged row (anti-join on row hash)
    val flaggedHashes = invalid.select("staging_row_hash")
      .unionAll(missing.select("staging_row_hash"))
      .unionAll(existing.select("staging_row_hash"))
    val promoted = staged.join(flaggedHashes, Seq("staging_row_hash"), "left_anti")

    def tagged(tag: String, df: DataFrame): DataFrame =
      df.agg(count(lit(1)).as("n")).select(lit(tag).as("stage"), col("n"))

    // --- stage 5: the training-corpus persona on the same engine — curate
    // (quality + repetition + exact-dup) then deterministic train/val/test
    val curated = Curation.curate(Tables.documents(spark, dir), "doc_id", "text")
    val train = Splits.assignSplit(curated.select("doc_id", "text"), "doc_id")
      .where(col("split") === "train")

    tagged("UPLOADS_ACCEPTED", spark.range(accepted.length).toDF())
      .unionAll(tagged("ROWS_STAGED", staged))
      .unionAll(tagged("INVALID_EMAIL", invalid))
      .unionAll(tagged("MISSING_REQUIRED_FIELD", missing))
      .unionAll(tagged("DUPLICATE_EMAIL_KEYS", dupKeys))
      .unionAll(tagged("EXISTING_EMAIL", existing))
      .unionAll(tagged("ROWS_PROMOTED", promoted))
      .unionAll(tagged("DOCS_CURATED", curated))
      .unionAll(tagged("DOCS_TRAIN_SPLIT", train))
  }

  // ---------------------------------------------------------------- queries

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // B. relational surface -------------------------------------------------
    "q01_jobs_by_user" -> ((s, d) =>
      Relational.jobsByUser(Tables.orders(s, d), 7L)),
    "q86_jobs_by_user_req" -> ((s, d) =>
      Relational.jobsByUserAndRequest(Tables.orders(s, d), 7L, "1-URGENT")),
    "q02_job_by_id" -> ((s, d) =>
      Relational.jobById(Tables.orders(s, d), 4242L)),
    "q03_contacts_listing" -> ((s, d) =>
      Relational.contactsListing(Tables.customer(s, d))),
    "q04_count_jobs" -> ((s, d) =>
      Relational.countJobs(Tables.orders(s, d))),
    "q05_issue_counts" -> ((s, d) =>
      Relational.conditionalCounts(Tables.orders(s, d))),
    "q06_issues_join_jobs" -> ((s, d) =>
      Relational.issuesJoinJobs(Tables.lineitem(s, d), Tables.orders(s, d), 7L)),
    "q07_threeway_join" -> ((s, d) =>
      Relational.threeWayJoin(Tables.orders(s, d), Tables.lineitem(s, d), Tables.part(s, d))),
    "q08_group_rollup" -> ((s, d) =>
      dbl(Relational.groupRollup(Tables.lineitem(s, d), Tables.orders(s, d),
        Tables.customer(s, d), Tables.nation(s, d)))),
    "q09_contact_by_email" -> ((s, d) =>
      Relational.contactByEmail(Tables.customer(s, d), "Customer#000000042")),
    "q18_topn_per_group" -> ((s, d) =>
      Relational.topNPerGroup(Tables.events(s, d), 3)),
    "q19_events_agg" -> ((s, d) =>
      dbl(Relational.eventsHourlyAgg(Tables.events(s, d)))),
    "q35_percentiles" -> ((s, d) =>
      dbl(Analytics.percentiles(Tables.lineitem(s, d)))),
    "q36_distinct_users" -> ((s, d) =>
      Analytics.distinctUsers(Tables.events(s, d))),
    "q37_running_total" -> ((s, d) =>
      dbl(Analytics.runningTotals(Tables.events(s, d)))),
    "q38_sessionize" -> ((s, d) =>
      Analytics.sessionize(Tables.events(s, d), 30)),
    "q39_approx_stats" -> ((s, d) =>
      Analytics.approxStats(Tables.events(s, d))),
    "q89_hll_merge" -> ((s, d) => {
      // incremental-load shape: two disjoint half-batches sketched
      // INDEPENDENTLY, merged to one estimate per event_type — distinct
      // counting without ever re-scanning the first batch (☆ rows-only:
      // sketch estimates are engine-internal; mergeability == full-scan
      // equality is asserted in AnalyticsSpec)
      // ★-checkable because at driver SFs (≤150 distinct users/type) the
      // lgK=12 sketch is still in exact coupon mode, so the merged estimate
      // EQUALS COUNT(DISTINCT); the approximate-regime error envelope is
      // asserted in AnalyticsSpec at 700 distinct
      val ev = Tables.events(s, d)
      val batches = Seq(0, 1).map(h =>
        Analytics.hllSketchByGroup(ev.where(col("event_id") % 2 === h), "event_type", "user_id"))
      Analytics.hllMergeEstimate(batches.reduce(_.unionAll(_)), "event_type")
    }),
    "q90_global_seq" -> ((s, d) =>
      // corpus-wide example ids without a 1-partition window (training-data
      // sharding backbone); (source, doc_id) is a unique total order
      Analytics.globalRowNumber(
        Tables.documents(s, d).select("doc_id", "source"), Seq("source", "doc_id"))
        .orderBy("seq")),
    "q91_rolling_window" -> ((s, d) =>
      Analytics.rollingTimeWindow(Tables.events(s, d), "user_id", "ts", "event_id", "value", 7)),
    "q92_chi_square" -> ((s, d) =>
      Analytics.chiSquare(Tables.orders(s, d), "o_orderstatus", "o_orderpriority")),
    "q93_mad" -> ((s, d) =>
      Analytics.madByGroup(Tables.events(s, d), "event_type", "value")),
    "q94_equidepth" -> ((s, d) =>
      // k=7 keeps every interpolation position strictly between order
      // statistics, so engine-specific FP in the quantile interpolation
      // cannot move a data point across a bin edge
      Analytics.equiDepthHistogram(
        Tables.orders(s, d).select("o_totalprice"), "o_totalprice", 7)),
    "q95_temperature_sample" -> ((s, d) =>
      Splits.temperatureSample(Tables.documents(s, d), "lang", "doc_id", 200L)),
    "q96_retention" -> ((s, d) =>
      Analytics.retentionCohorts(Tables.events(s, d), "user_id", "ts", Seq(0, 1, 3, 7))),
    "q97_bm25" -> ((s, d) =>
      TextAnalysis.bm25(Tables.documents(s, d), "doc_id", "text",
        Seq("spark", "join", "window"))),
    "q98_boilerplate" -> ((s, d) =>
      Curation.boilerplateGrams(Tables.documents(s, d), "doc_id", "source", "text")),
    "q99_substring_dedup" -> ((s, d) =>
      Dedup.substringPairs(Tables.documents(s, d), "doc_id", "text")),
    "q100_inverted_index" -> ((s, d) =>
      TextAnalysis.invertedIndex(Tables.documents(s, d), "doc_id", "text")),
    "q101_sliding_distinct" -> ((s, d) =>
      Analytics.slidingDistinct(Tables.events(s, d), "event_type", "user_id", "ts", 7)),
    "q102_markov" -> ((s, d) =>
      Analytics.markovTransitions(Tables.events(s, d), "user_id", "ts", "event_id", "event_type")),
    "q103_attribution" -> ((s, d) =>
      Analytics.lastTouchAttribution(Tables.events(s, d), "user_id", "ts", "event_id",
        "event_type", "purchase", 30)),
    "q104_regression" -> ((s, d) =>
      Analytics.regressionByGroup(Tables.orders(s, d), "o_orderpriority",
        datediff(to_date(col("o_orderdate")), lit("1970-01-01")),
        col("o_totalprice"))),
    "q105_assoc_rules" -> ((s, d) =>
      Analytics.associationRules(Tables.events(s, d), "user_id", "ts", "event_type")),
    "q106_pct_of_total" -> ((s, d) =>
      Reports.revenueShare(Tables.orders(s, d), Tables.customer(s, d), Tables.nation(s, d))),
    "q107_winsorized" -> ((s, d) =>
      Analytics.winsorizedMean(Tables.events(s, d), "event_type", "value")),
    "q108_quantile_norm" -> ((s, d) =>
      Analytics.calibrateByGroup(Tables.documents(s, d), "source", "doc_id", "n_chars")),
    "q109_bigram_ll" -> ((s, d) =>
      Curation.bigramLogLikelihood(Tables.documents(s, d), "doc_id", "text")),
    "q110_pagerank" -> ((s, d) => {
      // part↔supplier co-occurrence graph, symmetrized so no node dangles.
      // INTEGER node keys (2k = part, 2k+1 = supplier): every iteration's
      // join + aggregate shuffles 8-byte longs instead of strings — about
      // half the shuffle width on the heaviest bench query; the final
      // projection re-labels, so the report (and its oracle) keeps names.
      // Top-20 selection happens in integer key order on BOTH sides; the
      // presentation re-sorts by (rank, label) identically on both sides.
      val li = Tables.lineitem(s, d).select(
        (col("l_partkey") * 2).as("src"),
        (col("l_suppkey") * 2 + 1).as("dst"))
      Graph.pageRank(
        li.unionAll(li.select(col("dst").as("src"), col("src").as("dst"))),
        "src", "dst")
        .select(
          when(col("node") % 2 === 0,
            concat(lit("p"), (col("node") / 2).cast("long")))
            .otherwise(concat(lit("s"), ((col("node") - 1) / 2).cast("long")))
            .as("node"),
          col("rank"))
        .orderBy(col("rank").desc, col("node"))
    }),
    "q111_grouping_sets" -> ((s, d) =>
      Reports.statusPriorityGroupingSets(Tables.orders(s, d))),
    "q326_pagerank_directed" -> ((s, d) => {
      // NATURALLY directed customer→order graph — every order node dangles
      // (out-degree 0), the shape plain pageRank can't serve: dangling
      // mass redistributes uniformly so Σrank stays n exactly (GraphSpec
      // pins the invariant). Integer keys (2c / 2o+1) keep custkey and
      // orderkey id spaces disjoint; top-20 selects in integer order, the
      // final projection re-labels and re-sorts by (rank, label) — both
      // mirrored in the oracle.
      val e = Tables.orders(s, d).select(
        (col("o_custkey") * 2).as("src"), (col("o_orderkey") * 2 + 1).as("dst"))
      Graph.pageRankDirected(e, "src", "dst")
        .select(col("node"), col("rank").cast("decimal(18,6)").cast("double").as("rank"))
        .orderBy(col("rank").desc, col("node")).limit(20)
        .select(
          when(col("node") % 2 === 0,
            concat(lit("c"), (col("node") / 2).cast("long")))
            .otherwise(concat(lit("o"), ((col("node") - 1) / 2).cast("long")))
            .as("node"),
          col("rank"))
        .orderBy(col("rank").desc, col("node"))
    }),
    "q332_clustering_agreement" -> ((s, d) =>
      // did k-means recover the label structure: purity + chance-corrected
      // ARI of the q81 assignments against the embeddings' labels
      Evaluation.clusteringAgreement(
        Similarity.kmeansAssign(Tables.embeddings(s, d), "vec_id", "embedding",
          k = 8, iters = 3),
        "vec_id", "cluster",
        Tables.embeddings(s, d).select(col("vec_id"), col("label")), "label")),
    "q333_rake_keywords" -> ((s, d) =>
      // what the corpus is ABOUT: stopword-delimited candidate phrases
      // scored by RAKE deg/freq word weights, corpus top-30
      Curation.rakeKeywords(Tables.documents(s, d), "doc_id", "text",
        Curation.RakeStopwords, topK = 30)),
    "q334_position_attribution" -> ((s, d) =>
      // the U-shaped upgrade of q103's last-touch: 40/20/40 credit over
      // each purchase's in-window view/click/signup touches
      Analytics.positionAttribution(Tables.events(s, d), "user_id", "ts",
        "event_id", "event_type", "purchase",
        Seq("view", "click", "signup"), windowDays = 7)),
    "q335_logrank" -> ((s, d) => {
      // do even- and odd-id users' time-to-first-purchase curves differ:
      // q157's censored per-user durations, split into two cohorts
      val perUser = Tables.events(s, d)
        .groupBy("user_id")
        .agg(((max(unix_timestamp(col("ts"))) - min(unix_timestamp(col("ts"))))
          .cast("long")).as("span_sec"),
          count(when(col("event_type") === "purchase", lit(1))).as("purchases"))
        .select(expr("span_sec div 86400").as("t_days"),
          (col("purchases") > 0).as("died"),
          when(col("user_id") % 2 === 0, lit("even")).otherwise(lit("odd"))
            .as("cohort"))
      Evaluation.logRankTest(perUser, "t_days", col("died"), "cohort", "even")
    }),
    "q336_map_at_k" -> ((s, d) =>
      // q175's listing fixture under the AP lens: does ranking a
      // customer's orders by price surface ALL the urgent ones early
      Evaluation.meanAveragePrecision(Tables.orders(s, d), "o_custkey",
        "o_orderkey", "o_totalprice",
        col("o_orderpriority") === "1-URGENT", k = 5)),
    "q337_shapley" -> ((s, d) =>
      // the axiomatic end of the attribution ladder (q103 last-touch →
      // q334 U-shape → Shapley): marginal-contribution credit over the
      // 2³ coalition lattice of view/click/signup
      Analytics.shapleyAttribution(Tables.events(s, d), "user_id", "ts",
        "event_id", "event_type", "purchase",
        Seq("view", "click", "signup"), windowDays = 7)),
    "q338_seq_patterns" -> ((s, d) =>
      // which ordered journeys (≤3 steps, noise-tolerant subsequences)
      // does ≥5% of the user base take — the GSP mining readout
      Analytics.sequentialPatterns(Tables.events(s, d), "user_id", "ts",
        "event_type", minSupport = 0.05)),
    "q339_loo_influence" -> ((s, d) =>
      // which document source moves the corpus-mean doc length most when
      // included: exact leave-one-out training-data valuation
      Analytics.sourceInfluence(Tables.documents(s, d), "source", col("n_chars"))),
    "q340_weibull" -> ((s, d) => {
      // parametric time-to-first-purchase: Weibull shape/scale per
      // even/odd cohort from each converting user's first-event→first-
      // purchase latency (q335's curves, now extrapolatable)
      val pu = Tables.events(s, d).groupBy("user_id")
        .agg(min(when(col("event_type") === "purchase", col("ts"))).as("fp"),
          min(col("ts")).as("fe"))
        .filter(col("fp").isNotNull)
        .select(when(col("user_id") % 2 === 0, lit("even")).otherwise(lit("odd"))
          .as("cohort"),
          (col("fp").cast("long") - col("fe").cast("long")).as("dur_sec"))
      Evaluation.weibullFit(pu, "cohort", col("dur_sec"))
    }),
    "q341_reciprocal_match" -> ((s, d) => {
      // q60's fuzzy candidates resolved to a one-to-one assignment:
      // mutual-argmax on negated edit distance, partner-id tie order
      val names = Tables.part(s, d).groupBy("p_name")
        .agg(min("p_partkey").as("p_partkey"))
      val pairs = Dedup.fuzzyPairs(names, "p_partkey", "p_name", maxDist = 2)
      Dedup.reciprocalBestMatch(pairs, "id_a", "id_b", lit(0) - col("dist"))
    }),
    "q342_periodogram" -> ((s, d) =>
      // which cycle dominates daily event volume: spectral power at
      // k = 1..14 over the stream's calendar span
      Analytics.periodogram(Tables.events(s, d), "ts", maxK = 14)),
    "q343_dbscan" -> ((s, d) =>
      // density clusters on the embedding's leading 2-D projection —
      // clustering without k; grid-bounded pairs, star CC, border attach
      Similarity.dbscanClusters(Tables.embeddings(s, d), "vec_id",
        element_at(col("embedding"), 1), element_at(col("embedding"), 2),
        eps = 0.04, minPts = 5)),
    "q344_domain_logodds" -> ((s, d) =>
      // DSIR data selection: score every doc by target-vs-background
      // unigram log-odds, target = the src0 "wiki-like" corpus slice
      Curation.domainLogOdds(Tables.documents(s, d), "doc_id", "text",
        col("source") === "src0")),
    "q345_rake_weights" -> ((s, d) => {
      // IPF-rake the doc_id%7 sample back onto the full corpus's
      // source × lang margins — 3 alternating passes, fixed-point exact
      val docs = Tables.documents(s, d)
      Analytics.rakeWeights(docs.filter(col("doc_id") % 7 === 0), docs,
        "source", "lang", iters = 3)
    }),
    "q346_truncation_fidelity" -> ((s, d) =>
      // Matryoshka rollout A/B: does 8-dim-prefix retrieval keep the
      // full-vector top-1 for the probe queries (ids only, q27 contract)
      Similarity.truncationFidelity(Tables.embeddings(s, d), "vec_id",
        "embedding", queryIds = Seq(0L, 1L, 2L, 3L, 4L, 5L, 6L, 7L), dims = 8)),
    "q347_mahalanobis" -> ((s, d) => {
      // whale-or-weird customers: unremarkable per axis, far off the
      // (orders, spend) correlation ridge — top-20 d², χ²₂ fence flag
      val per = Tables.orders(s, d).groupBy("o_custkey")
        .agg(count(lit(1)).as("n_orders"),
          sum(col("o_totalprice").cast("decimal(18,2)")).cast("decimal(18,2)")
            .as("spend"))
      Analytics.mahalanobisOutliers(per, "o_custkey",
        col("n_orders"), col("spend"), topK = 20)
    }),
    "q348_rate_ratio" -> ((s, d) => {
      // do even-id users purchase at a higher DAILY rate: exposure-
      // adjusted count-metric A/B (person-time, not per-head means)
      val per = Tables.events(s, d).groupBy("user_id")
        .agg(countDistinct(to_date(col("ts"))).as("days"),
          count(when(col("event_type") === "purchase", lit(1))).as("purch"))
      Evaluation.rateRatioTest(per, col("user_id") % 2 === 0,
        col("days"), col("purch"))
    }),
    "q349_mixed_script" -> ((s, d) =>
      // homoglyph / script-mixing poisoning audit over every document
      TextAnalysis.mixedScriptAudit(Tables.documents(s, d), "doc_id", "text")),
    "q350_count_min" -> ((s, d) =>
      // mergeable point-query sketch: per-customer order counts probed
      // against a 4×64 CMS — estimate ≥ exact, collisions visible
      Analytics.countMinEstimates(Tables.orders(s, d), "o_custkey",
        probes = Seq("1", "7", "19", "42", "100", "250", "500", "1000"))),
    "q351_rdd" -> ((s, d) => {
      // does crossing the acctbal ≥ 0 credit threshold jump order
      // volume: sharp RDD, local-linear both sides, bandwidth 5000
      val spend = Tables.orders(s, d).groupBy("o_custkey")
        .agg(count(lit(1)).as("n_orders"))
      val c = Tables.customer(s, d)
        .join(spend, col("c_custkey") === col("o_custkey"), "left")
        .select(col("c_acctbal"), coalesce(col("n_orders"), lit(0L)).as("n_orders"))
      Evaluation.regressionDiscontinuity(c, col("c_acctbal"), col("n_orders"),
        cutoff = 0.0, bandwidth = 5000.0)
    }),
    "q352_wald_iv" -> ((s, d) => {
      // encouragement read: even-id "instrument", views as treatment,
      // purchase spend as outcome — LATE = ITT / first stage
      val per = Tables.events(s, d).groupBy("user_id")
        .agg(count(when(col("event_type") === "view", lit(1))).as("n_views"),
          coalesce(sum(when(col("event_type") === "purchase", col("value"))),
            lit(0d)).as("spend"))
      Evaluation.waldIvEstimate(per, col("user_id") % 2 === 0,
        col("n_views"), col("spend"))
    }),
    "q353_lsh_calibration" -> ((s, d) =>
      // will 0.7-similar docs survive 32×4 banding: the S-curve planner,
      // data-free, repeated-squaring chains (no libm pow)
      Dedup.lshCalibration(s, bands = 32, rowsPerBand = 4, threshold = 0.5)),
    "q354_percentile_ci" -> ((s, d) =>
      // the median price WITH its distribution-free error bar
      Analytics.percentileCI(Tables.lineitem(s, d), col("l_extendedprice"), p = 0.5)),
    "q355_ridge2" -> ((s, d) =>
      // price on (quantity, discount) with an L2 penalty — the
      // regularized rung above plain per-group OLS
      Analytics.ridgeRegression2(Tables.lineitem(s, d), col("l_quantity"),
        col("l_discount"), col("l_extendedprice"), lambda = 10.0)),
    "q356_kll_quantiles" -> ((s, d) =>
      // mergeable quantile pipeline: per-partition KLL sketches → one
      // merge → estimates with the sketch's proven rank-error bound.
      // ★-checkable via the exact regime (the q89 HLL coupon-mode
      // argument): at k=65535 the VERIFY SFs (sf ≤ 0.01; 10k non-null
      // events) keep n ≤ k, so no compaction ever fires (no coin flips),
      // the sketch retains EVERY item, and each INCLUSIVE quantile is
      // exactly the ceil(p·n)-th order statistic — an exact-percentile
      // DuckDB oracle. sf0.1 already exceeds the regime (100k values),
      // so the oracle path carries a loud n ≤ k guard (exactOracleGuard,
      // armed only under graft.verify) instead of flaking on a
      // nondeterministic compaction. The approximate regime (n ≫ k,
      // e.g. the sf1 bench) keeps its rank-error envelope, asserted in
      // SketchesSpec. rank_error is a pure function of k
      // (engine-internal constant) and stays spec-verified; the
      // registered projection carries the data-derived columns.
      graft.functions.Sketches.kllMergeQuantiles(
        graft.functions.Sketches.kllPartitionSketches(
          Tables.events(s, d).select(col("value")), "value", k = 65535),
        probs = Seq(0.1, 0.5, 0.9, 0.99), k = 65535,
        exactOracleGuard = sys.props.contains("graft.verify"))
        .drop("rank_error").orderBy("p")),
    "q357_theta_setops" -> ((s, d) => {
      // how many users both viewed AND purchased: theta-sketch set
      // algebra over the two populations. ★-checkable via the exact
      // regime: theta sampling starts only past the nominal-entries
      // capacity (4096), and the driver SFs top out at 1500 distinct
      // users, so every sketch keeps theta = 1 and the set-op estimates
      // EQUAL the exact COUNT DISTINCT / intersect / union / diff — the
      // DuckDB oracle; the estimation-regime error envelope is asserted
      // in SketchesSpec at 60k distincts.
      val ev = Tables.events(s, d)
      graft.functions.Sketches.thetaSetOps(
        ev.filter(col("event_type") === "view").select(col("user_id")), "user_id",
        ev.filter(col("event_type") === "purchase").select(col("user_id")), "user_id")
    }),
    "q358_funnel_timing" -> ((s, d) =>
      // where does the view→click→purchase funnel actually LOSE time:
      // per-step converters + exact median/p90 inter-step seconds
      Analytics.funnelStepTiming(Tables.events(s, d), "user_id", "ts",
        "event_type", Seq("view", "click", "purchase"), windowDays = 7)),
    "q359_recursive_ldiv" -> ((s, d) =>
      // the skew-aware diversity gate q171's distinct-l misses: does the
      // TOP account-balance band dominate its (segment, nation) class
      Privacy.recursiveLDiversity(
        Tables.customer(s, d).withColumn("bal_band",
          floor(col("c_acctbal") / lit(1000d)).cast("long")),
        Seq("c_mktsegment", "c_nationkey"), "bal_band", l = 3, c = 2.0)),
    "q360_assortativity" -> ((s, d) =>
      // do hub parts co-purchase with other hubs (r>0) or with the long
      // tail (r<0) on the repeat (wt≥2) graph — the one-number answer to
      // whether a node-hash shuffle of this graph is skew-safe
      Graph.degreeAssortativity(
        partCooccurrenceEdges(s, d).groupBy("pa", "pb")
          .agg(count(lit(1)).as("w")).filter(col("w") >= 2), "pa", "pb")),
    "q361_hl_shift" -> ((s, d) => {
      // HOW MUCH is a returned day's revenue shifted vs an accepted day's
      // (robust median-of-pairwise-diffs in cents, not the whale-wrecked
      // mean); daily pre-aggregate per the operator's scale contract
      val li = Tables.lineitem(s, d)
      def daily(f: String) = li.filter(col("l_returnflag") === f)
        .groupBy(to_date(col("l_shipdate")).as("day"))
        .agg(sum(round(col("l_extendedprice") * lit(100d)).cast("long"))
          .as("cents"))
      Analytics.hodgesLehmannShift(daily("A"), daily("R"), "cents")
    }),
    "q362_drawdown" -> ((s, d) =>
      // the worst sustained net-revenue fall each return class ever
      // lived through, when it bottomed, and whether it recovered
      Analytics.maxDrawdown(Tables.lineitem(s, d), "l_returnflag",
        to_date(col("l_shipdate")),
        round(col("l_extendedprice") * (lit(1d) - col("l_discount"))
          * lit(100d)).cast("long"))),
    "q363_rbo" -> ((s, d) => {
      // did the top-40 revenue parts list actually CHANGE 1996→1997 —
      // top-weighted rank-biased overlap, not set Jaccard
      val li = Tables.lineitem(s, d)
      def yearly(y: Int) = li.filter(year(col("l_shipdate")) === y)
        .groupBy(col("l_partkey").as("item"))
        .agg(sum(round(col("l_extendedprice") * (lit(1d) - col("l_discount"))
          * lit(100d)).cast("long")).as("rev"))
      Evaluation.rankBiasedOverlap(yearly(1996), yearly(1997),
        "item", "rev", BigDecimal("0.9"), depth = 40)
    }),
    "q364_holm" -> ((s, d) =>
      // the same 25 nation-share tests as q256, under FAMILY-WISE error
      // control (one false launch is unacceptable) instead of FDR
      Evaluation.holmBonferroni(
        Evaluation.shareTestPValues(Tables.customer(s, d), "c_nationkey"),
        "key", "p", 0.05)),
    "q365_kneser_ney" -> ((s, d) =>
      // the corpus's top-30 bigrams with continuation-count smoothed
      // probabilities — the "francisco only follows san" LM correction
      Curation.kneserNeyBigrams(Tables.documents(s, d), "doc_id", "text",
        topK = 30)),
    "q366_c4_rules" -> ((s, d) =>
      // C4's line-shape web-cleaning recipe beside q230's gopher stats:
      // terminal-punctuation lines, stub lines, placeholder/code tells
      Curation.c4Rules(Tables.documents(s, d), "doc_id", "text")),
    "q367_compaction_plan" -> ((s, d) =>
      // nightly table-service plan: pack each source's small "files"
      // (docs as a stand-in manifest) into 2000-byte rewrite bins
      Sinks.compactionPlan(
        Tables.documents(s, d).select(col("source"),
          lpad(col("doc_id").cast("string"), 8, "0").as("f"), col("n_chars")),
        "source", "f", col("n_chars"), targetBytes = 2000L)),
    "q368_vocab_turnover" -> ((s, d) =>
      // token-type churn between adjacent sources: what a vocab rebuild
      // would actually see change snapshot-over-snapshot
      TextAnalysis.vocabularyTurnover(Tables.documents(s, d), "source", "text")),
    "q369_lof" -> ((s, d) =>
      // density-RELATIVE outliers in the embedding plane: a point 2×
      // sparser than its own neighborhood scores ~2 even where a global
      // z-score or DBSCAN's fixed eps sees nothing
      Similarity.localOutlierFactor(Tables.embeddings(s, d), "vec_id",
        element_at(col("embedding"), 1), element_at(col("embedding"), 2),
        radius = 0.1, k = 5, topN = 20)),
    "q370_interarrival" -> ((s, d) =>
      // is each event stream memoryless (median/mean→ln2, CV→1) or
      // bursty — the M/M/1-assumption check for capacity planning
      Analytics.interarrivalDiagnostics(Tables.events(s, d),
        "event_type", "user_id", "ts", "event_id")),
    "q371_curve_locality" -> ((s, d) =>
      // layout decision, measured: avg |Δx|+|Δy| between consecutive
      // cells under Hilbert vs Morton/z-order on a 32×32 key grid
      Analytics.curveLocality(
        Tables.customer(s, d).select(
          pmod(conv(substring(md5(concat(lit("cx:"),
            col("c_custkey").cast("string"))), 1, 8), 16, 10).cast("long"),
            lit(32L)).as("x"),
          pmod(conv(substring(md5(concat(lit("cy:"),
            col("c_custkey").cast("string"))), 1, 8), 16, 10).cast("long"),
            lit(32L)).as("y")),
        col("x"), col("y"), bits = 5)),
    "q372_yuen" -> ((s, d) => {
      // robust daily-revenue comparison A vs R: 20%-trimmed means +
      // winsorized variances — whale-immune where Welch's t is not
      val daily = Tables.lineitem(s, d)
        .filter(col("l_returnflag").isin("A", "R"))
        .groupBy(col("l_returnflag").as("f"), to_date(col("l_shipdate")).as("day"))
        .agg(sum(round(col("l_extendedprice") * lit(100d)).cast("long")).as("cents"))
      Evaluation.yuenTrimmedTest(daily, col("f") === "A", col("cents"), trim = 0.2)
    }),
    "q373_qte" -> ((s, d) =>
      // the decile ladder the A/B mean hides: even- vs odd-id users'
      // event-value quantile differences at p=.1….9, exact interpolation
      Analytics.quantileTreatmentEffect(Tables.events(s, d),
        pmod(col("user_id"), lit(2)) === 0,
        round(col("value") * lit(100d)))),
    "q374_rmst" -> ((s, d) => {
      // expected purchase-free days within the first 120 — the area
      // under q157's KM curve, meaningful even when the median never
      // arrives; same censored per-user durations
      val perUser = Tables.events(s, d)
        .groupBy("user_id")
        .agg(((max(unix_timestamp(col("ts"))) - min(unix_timestamp(col("ts"))))
          .cast("long")).as("span_sec"),
          count(when(col("event_type") === "purchase", lit(1))).as("purchases"))
        .select(expr("span_sec div 86400").as("t_days"),
          (col("purchases") > 0).as("died"))
      Evaluation.restrictedMeanSurvival(perUser, "t_days", col("died"), tau = 120L)
    }),
    "q375_spiegelhalter" -> ((s, d) =>
      // is q213's synthetic score SYSTEMATICALLY mis-scaled, bin-free:
      // same (p, y) pairing, Brier-luck significance instead of buckets
      Evaluation.spiegelhalterZ(Tables.orders(s, d),
        (col("o_orderkey") % 1000) / lit(1000.0),
        col("o_orderstatus") === "F")),
    "q376_rich_club" -> ((s, d) =>
      // do the hub parts co-purchase with EACH OTHER: φ(k) over the
      // repeat graph — the curve view of q360's single r
      Graph.richClub(
        partCooccurrenceEdges(s, d).groupBy("pa", "pb")
          .agg(count(lit(1)).as("w")).filter(col("w") >= 2),
        "pa", "pb", ks = Seq(4, 8, 16, 32))),
    "q377_xmr" -> ((s, d) =>
      // Shewhart natural process limits on daily event volumes: which
      // streams ran beyond mean ± 2.66·mR̄, without distribution bets
      Analytics.xmrChart(Tables.events(s, d), "event_type",
        to_date(col("ts")))),
    "q378_group_sequential" -> ((s, d) =>
      // five pre-registered peeks at the even-vs-odd-user value metric
      // under O'Brien–Fleming spending (Jennison–Turnbull K=5 table)
      Evaluation.groupSequential(Tables.events(s, d),
        pmod(col("user_id"), lit(2)) === 0,
        round(col("value") * lit(100d)), "ts",
        bounds = Seq(4.8769, 3.3569, 2.6803, 2.2898, 2.0310))),
    "q379_half_life" -> ((s, d) =>
      // how fast does each event stream's daily volume decay: log-linear
      // slope and the −ln2/slope half-life retention dashboards chase
      Analytics.activityHalfLife(Tables.events(s, d), "event_type",
        to_date(col("ts")))),
    "q380_dow_envelope" -> ((s, d) =>
      // is the freshest Tuesday normal FOR A TUESDAY: per-(stream,
      // weekday) p10/p90 envelope + latest-day position
      Analytics.dowEnvelope(Tables.events(s, d), "event_type",
        to_date(col("ts")))),
    "q381_token_burstiness" -> ((s, d) =>
      // which frequent tokens are bursty content words vs evenly
      // sprinkled function words: Fano factor of per-doc counts
      TextAnalysis.tokenBurstiness(Tables.documents(s, d), "doc_id", "text",
        topM = 30)),
    "q382_strat_ate" -> ((s, d) =>
      // priority-stratified treated-vs-control price effect: Cochran
      // subclassification with population weights + the __ALL__ combine
      Evaluation.stratifiedAte(Tables.orders(s, d), "o_orderpriority",
        pmod(col("o_orderkey"), lit(2)) === 0,
        round(col("o_totalprice") * lit(100d)))),
    "q383_qini" -> ((s, d) => {
      // WHO should get the treatment: uplift by view-count decile —
      // Qini above the diagonal means the score targets real uplift
      val users = Tables.events(s, d).groupBy(col("user_id"))
        .agg(count(when(col("event_type") === "view", lit(1))).as("views"),
          count(when(col("event_type") === "purchase", lit(1))).as("purch"))
      Evaluation.qiniCurve(users, "user_id",
        pmod(col("user_id"), lit(2)) === 0, col("purch") > 0, col("views"))
    }),
    "q384_by_fdr" -> ((s, d) =>
      // the dependence-robust member of the q256/q364 trio: same 25
      // tests, valid under ARBITRARY p-value correlation
      Evaluation.benjaminiYekutieli(
        Evaluation.shareTestPValues(Tables.customer(s, d), "c_nationkey"),
        "key", "p", 0.05)),
    "q385_scd2" -> ((s, d) =>
      // each user's event-type state as versioned validity intervals —
      // the SCD2 build q114's latest-row compaction cannot give
      Analytics.scd2History(Tables.events(s, d), "user_id", "ts",
        "event_id", col("event_type"))),
    "q386_deming" -> ((s, d) =>
      // quantity and price are BOTH noisy measurements: the orthogonal
      // line OLS attenuates; exact integer units in, closed form out
      Analytics.demingRegression(Tables.lineitem(s, d),
        col("l_quantity"), round(col("l_extendedprice") * lit(100d)))),
    "q387_abc" -> ((s, d) =>
      // which slice of parts carries 80/95% of revenue: the inventory
      // ABC split with exact integer class boundaries
      Analytics.abcClasses(Tables.lineitem(s, d), "l_partkey",
        round(col("l_extendedprice") * lit(100d)))),
    "q388_seasonal_strength" -> ((s, d) =>
      // is the event series structure or noise: Wang–Hyndman F_T/F_S
      // over q232's exact micro-unit decomposition
      Analytics.seasonalStrength(Tables.events(s, d), "ts")),
    "q389_bland_altman" -> ((s, d) => {
      // do the order header total and the line-item sum AGREE as two
      // measurements of the same order — bias + limits of agreement
      val lineSums = Tables.lineitem(s, d).groupBy(col("l_orderkey"))
        .agg(sum(round(col("l_extendedprice") * lit(100d)).cast("long"))
          .as("line_cents"))
      val pairs = Tables.orders(s, d)
        .select(col("o_orderkey"),
          round(col("o_totalprice") * lit(100d)).cast("long").as("hdr_cents"))
        .join(lineSums, col("o_orderkey") === col("l_orderkey"))
      Evaluation.blandAltman(pairs, col("hdr_cents"), col("line_cents"))
    }),
    "q390_chao1" -> ((s, d) =>
      // how much vocabulary has this corpus NOT seen: Chao1 richness
      // bound + Good–Turing unseen mass from the frequency spectrum
      TextAnalysis.vocabularyRichness(Tables.documents(s, d), "text")),
    "q391_wilson" -> ((s, d) =>
      // fill-rate per priority WITH honest error bars — Wilson, not the
      // Wald interval that collapses at the extremes
      Evaluation.wilsonIntervals(Tables.orders(s, d), "o_orderpriority",
        col("o_orderstatus") === "F")),
    "q392_ratio_metric" -> ((s, d) => {
      // revenue-per-view as a RATIO metric: unit = user, denominator =
      // views — the delta-method z a row-level t-test gets wrong
      val units = Tables.events(s, d).groupBy(col("user_id"))
        .agg(coalesce(sum(when(col("event_type") === "purchase",
            round(col("value") * lit(100d)).cast("long"))), lit(0L)).as("x"),
          count(when(col("event_type") === "view", lit(1))).as("y"))
      Evaluation.ratioMetricDelta(units,
        pmod(col("user_id"), lit(2)) === 0, col("x"), col("y"))
    }),
    "q327_diff_in_diff" -> ((s, d) =>
      // did even-id users' event value move after mid-month NET of the
      // common time trend: the 2×2 DiD readout, one conditional-agg scan
      Evaluation.diffInDiff(Tables.events(s, d),
        pmod(col("user_id"), lit(2)) === 0,
        dayofmonth(col("ts")) > 15,
        col("value"))),
    "q328_sign_flip" -> ((s, d) => {
      // is per-user purchase spend symmetric vs view spend: paired diff
      // per user, 64 deterministic md5-bit sign vectors, exact p
      val ev = Tables.events(s, d)
      Evaluation.signFlipTest(
        ev.filter(col("event_type").isin("purchase", "view"))
          .select(col("user_id"),
            when(col("event_type") === "purchase", col("value"))
              .otherwise(-col("value")).as("diff")),
        "user_id", col("diff"))
    }),
    "q329_interrupted_series" -> ((s, d) =>
      // quantify the (synthetic) mid-month break: two exact OLS fits on
      // the daily volume, slope change + level change at the knot
      Analytics.interruptedSeries(Tables.events(s, d), "ts", "2024-01-16")),
    "q330_median_of_means" -> ((s, d) =>
      // robust per-user spend mean: 9 md5 buckets, exact bucket means,
      // exact middle — one heavy whale can poison at most one bucket
      Analytics.medianOfMeans(Tables.events(s, d), "user_id", col("value"))),
    "q331_script_profile" -> ((s, d) => {
      // which script is each source actually written in — with planted
      // Cyrillic/CJK/Hangul rows so every class column is exercised in
      // the oracle gate, not just the spec
      val docs = Tables.documents(s, d).select(col("source"), col("text"))
      val planted = Tables.documents(s, d).filter(col("doc_id") < 6).select(
        concat(lit("planted_"), element_at(array(lit("ru"), lit("zh"), lit("ko")),
          (col("doc_id") % 3 + 1).cast("int"))).as("source"),
        concat(col("text"), lit(" "),
          element_at(array(lit("привет мир"), lit("你好世界"), lit("안녕하세요")),
            (col("doc_id") % 3 + 1).cast("int"))).as("text"))
      TextAnalysis.scriptProfile(docs.unionAll(planted), "source", "text")
    }),
    "q140_global_median" -> ((s, d) =>
      // n=200k at sf0.01 > the 100k exact threshold, so the driver run
      // exercises a real histogram refinement pass, not just the sliver
      Analytics.exactGlobalMedian(Tables.events(s, d), "value")),
    "q141_auc" -> ((s, d) =>
      // does order price separate filled from unfilled orders, per priority
      // tier — exact Mann-Whitney with average-rank ties, integer until the
      // final division
      Evaluation.groupedAuc(Tables.orders(s, d), "o_orderpriority",
        col("o_orderstatus") === "F", "o_totalprice")),
    "q142_psi" -> ((s, d) => {
      // drift gate: do purchase-event values follow the view-event value
      // distribution? bins anchored on the expected (view) side
      val ev = Tables.events(s, d)
      Evaluation.psi(ev.filter(col("event_type") === "view"),
        ev.filter(col("event_type") === "purchase"), "value", 10)
    }),
    "q143_ks" -> ((s, d) => {
      // exact two-sample KS at full value resolution (the binning-free
      // complement of q142); cumulative via the two-pass prefix scan
      val ev = Tables.events(s, d)
      Evaluation.ksTest(ev.filter(col("event_type") === "click"),
        ev.filter(col("event_type") === "view"), "value")
    }),
    "q144_class_metrics" -> ((s, d) =>
      // per-class precision/recall/F1 of a deterministic priority→status
      // rule model; class P is never predicted, exercising the 0-margins
      Evaluation.classificationMetrics(
        Tables.orders(s, d).withColumn("predicted",
          when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), "F")
            .when(col("o_orderpriority") === "3-MEDIUM", "P")
            .otherwise("O")),
        "o_orderstatus", "predicted")),
    "q145_zipf" -> ((s, d) =>
      TextAnalysis.zipfFit(Tables.documents(s, d), "text")),
    "q154_lift" -> ((s, d) =>
      // does targeting the top price deciles capture the F orders
      Evaluation.liftTable(Tables.orders(s, d),
        col("o_totalprice"), col("o_orderstatus") === "F")),
    "q155_ab_test" -> ((s, d) =>
      // 3 deterministic arms keyed off the order id, arm 0 = control;
      // success = the order filled
      Evaluation.abTest(
        Tables.orders(s, d).withColumn("arm", pmod(col("o_orderkey"), lit(3))),
        "arm", col("o_orderstatus") === "F", "0")),
    "q156_mutual_info" -> ((s, d) =>
      // effect-size companion of q92's chi-square on the same contingency
      Evaluation.mutualInfo(Tables.orders(s, d),
        "o_orderpriority", "o_orderstatus")),
    "q157_survival" -> ((s, d) => {
      // per-user observation window in whole days; "death" = the user ever
      // purchased; users seen only viewing/clicking are right-censored
      val perUser = Tables.events(s, d)
        .groupBy("user_id")
        .agg(((max(unix_timestamp(col("ts"))) - min(unix_timestamp(col("ts"))))
          .cast("long")).as("span_sec"),
          count(when(col("event_type") === "purchase", lit(1))).as("purchases"))
        .select(expr("span_sec div 86400").as("t_days"),
          (col("purchases") > 0).as("died"))
      Evaluation.kaplanMeier(perUser, "t_days", col("died"))
    }),
    "q158_spearman" -> ((s, d) =>
      // monotone association of quantity and price per return flag
      Analytics.spearmanByGroup(Tables.lineitem(s, d),
        "l_returnflag", "l_quantity", "l_extendedprice")),
    "q159_acf" -> ((s, d) =>
      // day-over-day autocorrelation of ingest volume, lags 1..7
      Analytics.acf(
        Tables.events(s, d)
          .groupBy(expr("unix_timestamp(ts) div 86400").as("day"))
          .agg(count(lit(1)).as("cnt")),
        "day", "cnt", maxLag = 7)),
    "q160_benford" -> ((s, d) =>
      // first-digit conformance of order line amounts
      Analytics.benfordAudit(Tables.lineitem(s, d), col("l_extendedprice"))),
    "q161_cusum" -> ((s, d) =>
      // sustained-shift monitor on daily ingest volume
      Evaluation.cusum(
        Tables.events(s, d)
          .groupBy(expr("unix_timestamp(ts) div 86400").as("day"))
          .agg(count(lit(1)).as("cnt")),
        "day", "cnt")),
    "q162_stratified_split" -> ((s, d) =>
      // 80/10/10 with EXACT per-source counts — no source starves
      Splits.stratifiedSplit(Tables.documents(s, d), "doc_id", "source")),
    "q163_weighted_pctile" -> ((s, d) =>
      // quantity-weighted price percentiles: every line counts qty times
      Analytics.weightedPercentilesByGroup(Tables.lineitem(s, d),
        "l_returnflag", "l_extendedprice", "l_quantity", Seq(500, 900))),
    "q164_automation" -> ((s, d) =>
      // metronomic actors: low gap-CV or a dominant modal gap
      Analytics.automationSignature(Tables.events(s, d),
        "user_id", "ts", "event_id")),
    "q165_containment" -> ((s, d) => {
      // subset-style duplication both directions over the planted corpus;
      // unfiltered candidates for the same reason as q24/q26
      val corpus = docsWithPlantedDups(Tables.documents(s, d))
      val cands = Dedup.minhashCandidates(corpus, "doc_id", "text")
      Dedup.containmentRerank(corpus, "doc_id", "text", cands, threshold = 0.8)
    }),
    "q166_dim_profile" -> ((s, d) =>
      // embedding-space health: dead/exploding dimensions, whitening stats
      Similarity.dimProfile(Tables.embeddings(s, d), "embedding")),
    "q167_theil_sen" -> ((s, d) =>
      // outlier-proof ingest-volume trend (an incident day can't bend it)
      Analytics.theilSenTrend(
        Tables.events(s, d)
          .groupBy(expr("unix_timestamp(ts) div 86400").as("day"))
          .agg(count(lit(1)).as("cnt")),
        "day", "cnt")),
    "q168_ccf" -> ((s, d) => {
      // do purchases follow clicks, and by how many days
      def daily(t: String) = Tables.events(s, d)
        .filter(col("event_type") === t)
        .groupBy(expr("unix_timestamp(ts) div 86400").as("day"))
        .agg(count(lit(1)).as("cnt"))
      Analytics.ccf(daily("click"), daily("purchase"), "day", "cnt", maxLag = 5)
    }),
    "q169_srm" -> ((s, d) =>
      // is the q155 arm assignment itself healthy (the gate BEFORE abTest)
      Evaluation.srmCheck(
        Tables.orders(s, d).withColumn("arm", pmod(col("o_orderkey"), lit(3))),
        "arm", Map("0" -> 334, "1" -> 333, "2" -> 333))),
    "q170_kcore" -> ((s, d) =>
      // dense center of the real part–supplier supply graph (supplier ids
      // offset past the part id space); k=4 peels the sparse fringe
      Graph.kCore(
        Tables.lineitem(s, d).select(col("l_partkey").as("id_a"),
          (col("l_suppkey") + 1000000000L).as("id_b")),
        "id_a", "id_b", k = 4)),
    "q171_k_anonymity" -> ((s, d) =>
      // can an attacker who knows nation + segment single out a customer
      // (k<8) or infer their debt status without singling out (l<2)?
      Privacy.kAnonymityAudit(
        Tables.customer(s, d).withColumn("in_debt", col("c_acctbal") < 0),
        Seq("c_nationkey", "c_mktsegment"), "in_debt", k = 8, l = 2)),
    "q172_kappa" -> ((s, d) =>
      // do the quantity and price terciles agree beyond chance — the
      // two-heuristic label-QC shape (thresholds fixed, ties impossible)
      Evaluation.cohenKappa(Tables.lineitem(s, d),
        when(col("l_quantity") < 17, "low")
          .when(col("l_quantity") < 34, "mid").otherwise("high"),
        when(col("l_extendedprice") < 30000, "low")
          .when(col("l_extendedprice") < 60000, "mid").otherwise("high"))),
    "q173_dsir_weights" -> ((s, d) =>
      // upweight docs whose token mix looks like the English subset —
      // the domain-targeting resampling weight over the full corpus
      Curation.importanceWeights(Tables.documents(s, d), "doc_id", "text",
        col("lang") === "en")),
    "q174_semantic_dedup" -> ((s, d) => {
      // within-label all-pairs cosine over the planted-dup corpus: each
      // planted copy shares its original's label, so the copy (higher id)
      // is dropped; organic pairs sit far below the 0.95 bar
      val e = Tables.embeddings(s, d)
      val planted = e.select(col("vec_id"), col("label"), col("embedding"))
        .unionAll(e.filter(col("vec_id") < 10)
          .select((col("vec_id") + 1000000).as("vec_id"), col("label"), col("embedding")))
      Similarity.semanticDedup(planted, "vec_id", "embedding", "label", 0.95)
    }),
    "q175_ranking" -> ((s, d) =>
      // treat each customer's orders as a scored listing: does ranking by
      // price surface the urgent ones — nDCG@5 + reciprocal rank per query
      Evaluation.rankingMetrics(Tables.orders(s, d), "o_custkey", "o_orderkey",
        "o_totalprice", col("o_orderpriority") === "1-URGENT", k = 5)),
    "q176_rrf" -> ((s, d) =>
      // merge a value leg and a recency leg per customer — the two-retriever
      // fusion shape (lexical + vector) on rank positions only
      Evaluation.reciprocalRankFusion(
        Tables.orders(s, d).select(col("o_custkey"), col("o_orderkey"),
          col("o_totalprice").as("price"),
          unix_timestamp(col("o_orderdate")).as("recency")),
        "o_custkey", "o_orderkey", Seq("price", "recency"))),
    "q177_top_p_cap" -> ((s, d) =>
      // cap every source at 70% of its character mass, heaviest docs first —
      // the domain-capping curation step
      Splits.topPByGroup(Tables.documents(s, d), "source", "doc_id",
        "n_chars", pPerMille = 700)),
    "q178_bucket_batches" -> ((s, d) =>
      // snap docs to length buckets, number fixed-size batches within each —
      // the padding-killing inference batching layout
      Curation.lengthBucketBatches(Tables.documents(s, d), "doc_id", "text",
        Seq(16, 32, 64, 128), batchSize = 8)),
    "q179_canonical" -> ((s, d) => {
      // q63's duplicate clusters → one keeper each: highest retail price,
      // ties to the lowest key — the "golden record" pipeline tail
      val pairs = Dedup.fuzzyPairs(
        Tables.part(s, d).groupBy("p_name").agg(min("p_partkey").as("p_partkey")),
        "p_partkey", "p_name", maxDist = 2)
      val clusters = Dedup.connectedComponents(pairs, "id_a", "id_b")
      Dedup.canonicalPerCluster(clusters, "node", "cluster_id",
        Tables.part(s, d), "p_partkey", "p_retailprice")
    }),
    "q180_quant_profile" -> ((s, d) =>
      // int8 go/no-go per vector: scale, reconstruction MSE, worst dim
      Similarity.quantizationProfile(Tables.embeddings(s, d), "vec_id", "embedding")),
    "q181_linkage" -> ((s, d) => {
      // Fellegi–Sunter log-odds over the q60 candidate pairs: brand/type/
      // size agreement with fixed (m, u) — the probabilistic match score
      val pairs = Dedup.fuzzyPairs(
        Tables.part(s, d).groupBy("p_name").agg(min("p_partkey").as("p_partkey")),
        "p_partkey", "p_name", maxDist = 2)
      Dedup.linkageScore(pairs, "id_a", "id_b", Tables.part(s, d), "p_partkey",
        Seq(("p_brand", 0.9, 0.04), ("p_type", 0.85, 0.02), ("p_size", 0.8, 0.02)))
    }),
    "q182_split_leakage" -> ((s, d) => {
      // plant EXACT copies under new ids: the content-blind id-hash split
      // places each copy independently, so some pairs straddle the boundary
      val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
      val planted = docs.unionAll(Tables.documents(s, d)
        .filter(col("doc_id") < 40)
        .select((col("doc_id") + 2000000).as("doc_id"), col("text")))
      Splits.crossSplitLeakage(planted, "doc_id", "text")
    }),
    "q183_label_noise" -> ((s, d) =>
      // flag vectors whose 5 exact NN majority-vote a different label
      Similarity.knnLabelNoise(Tables.embeddings(s, d), "vec_id", "embedding",
        "label", k = 5)),
    "q184_walk_forward" -> ((s, d) =>
      // 4 rolling-origin folds over the event stream, 1h embargo
      Splits.walkForwardFolds(Tables.events(s, d), "ts", "user_id",
        nFolds = 4, embargoSeconds = 3600)),
    "q185_anova" -> ((s, d) =>
      // does mean quantity differ across return flags (3 arms at once)
      Evaluation.anovaF(Tables.lineitem(s, d), "l_returnflag",
        col("l_quantity").cast("decimal(18,2)"))),
    "q186_pareto" -> ((s, d) =>
      // size×price frontier over part; price pre-scaled to exact cents
      Analytics.paretoFrontier(
        Tables.part(s, d).select(col("p_partkey"), col("p_size"),
          (col("p_retailprice") * 100).cast("long").as("cents")),
        "p_partkey", "p_size", "cents")
        .select(col("id").as("p_partkey"), col("x").as("p_size"),
          col("y").as("cents"))),
    "q187_woe_iv" -> ((s, d) =>
      // does order value separate failed orders from the rest
      Evaluation.woeIv(Tables.orders(s, d),
        col("o_orderstatus") =!= "F", "o_totalprice", bins = 10)),
    "q188_silhouette" -> ((s, d) =>
      // do the embedding labels separate in cosine space, per label
      Similarity.labelSilhouette(Tables.embeddings(s, d), "vec_id",
        "embedding", "label")),
    "q219_distinctive_terms" -> ((s, d) =>
      // what words characterize each source vs the pooled corpus
      Curation.distinctiveTerms(Tables.documents(s, d), "source", "text",
        topK = 3, alpha0 = 500.0, minCount = 20)),
    "q220_bpe_pairs" -> ((s, d) =>
      // the BPE-training inner loop: most frequent adjacent symbol pair
      // over the word-frequency table (corpus never re-scanned)
      Curation.bpePairCounts(Tables.documents(s, d), "text", 20)),
    "q221_bpe_train" -> ((s, d) =>
      // full tokenizer training via the BATCHED trainer (round 13): per
      // round one vocab-sized job + one top-K collect, accepting the
      // maximal provably-safe PREFIX of the pair ranking — merge list
      // PROVABLY identical to the sequential trainer (CurationSpec pins
      // batched ≡ sequential on known-answer, adversarial and corpus-shaped
      // inputs), in fewer job waves. ★ since round 10: an independent
      // sequential textbook BPE trains on the same corpus at oracle-dump
      // time and its merge table is pinned as a DuckDB constant
      // (bpeTrainOracleSql)
      Curation.bpeTrainBatched(Tables.documents(s, d), "text", BpeMerges)),
    "q252_isotonic" -> ((s, d) =>
      // monotone calibration map P(F | order value) via the minimax
      // closed form == PAV, computed over 16 fixed-width score bins
      Evaluation.isotonicFit(Tables.orders(s, d), "o_totalprice",
        col("o_orderstatus") === "F", 0.0, 600000.0, 16)),
    "q253_conformal" -> ((s, d) =>
      // split conformal: md5 train/cal/test, per-priority mean model,
      // k-th-smallest calibration residual radius, per-test-row intervals
      Evaluation.conformalIntervals(Tables.orders(s, d), "o_orderkey",
        "o_orderpriority", "o_totalprice")),
    "q254_heaps" -> ((s, d) =>
      // Heaps'-law β: ln V(n) vs ln n over per-doc corpus prefixes
      TextAnalysis.heapsFit(Tables.documents(s, d), "doc_id", "text")),
    "q288_vocab_coverage" -> ((s, d) =>
      // how much vocabulary is still unseen: Chao1 richness ceiling +
      // Good–Turing next-token novelty mass
      TextAnalysis.vocabCoverage(Tables.documents(s, d), "text")),
    "q289_kruskal" -> ((s, d) =>
      // rank-based k-group shift test over priority tiers (anova's robust
      // twin); doubled ranks keep every sum integer
      Evaluation.kruskalWallis(Tables.orders(s, d), "o_orderpriority",
        col("o_totalprice").cast("decimal(18,2)"))),
    "q290_jarque_bera" -> ((s, d) =>
      // are per-flag quantity distributions normal enough for σ rules:
      // skew/kurtosis/JB from exact power sums
      Evaluation.jarqueBera(Tables.lineitem(s, d), "l_returnflag",
        col("l_quantity").cast("long"))),
    "q291_bartlett" -> ((s, d) =>
      // is order-value variance homogeneous across priority tiers (the
      // SCALE test next to q289's location test); exact cent units
      Evaluation.bartlett(Tables.orders(s, d), "o_orderpriority",
        (col("o_totalprice").cast("decimal(18,2)") * 100)
          .cast("decimal(19,0)"))),
    "q292_ljung_box" -> ((s, d) =>
      // any serial structure left in daily ingest volume: cumulative
      // portmanteau Q over acf lags 1..7
      Evaluation.ljungBox(
        Tables.events(s, d)
          .groupBy(expr("unix_timestamp(ts) div 86400").as("day"))
          .agg(count(lit(1)).as("cnt")),
        "day", "cnt", maxLag = 7)),
    "q293_odds_ratio" -> ((s, d) =>
      // does urgency associate with finishing: 2x2 cells + Haldane OR
      // with a Wald CI — the effect size next to the p-value
      Evaluation.contingency2x2(Tables.orders(s, d),
        col("o_orderpriority") === "1-URGENT",
        col("o_orderstatus") === "F")),
    "q294_wasserstein" -> ((s, d) =>
      // HOW MANY DOLLARS did the order-value distribution move between
      // finished and open books: exact earth-mover integral
      Evaluation.wasserstein1(
        Tables.orders(s, d).filter(col("o_orderstatus").isin("F", "O")),
        col("o_totalprice"), col("o_orderstatus") === "F")),
    "q295_grubbs" -> ((s, d) =>
      // the single most extreme order per priority tier: too extreme to
      // be chance?
      Evaluation.grubbs(Tables.orders(s, d), "o_orderpriority",
        col("o_totalprice").cast("decimal(18,2)"))),
    "q296_effect_size" -> ((s, d) =>
      // Cohen's d / Hedges' g between finished and open order values —
      // the magnitude readout every big-n p-value needs
      Evaluation.effectSize(
        Tables.orders(s, d).filter(col("o_orderstatus").isin("F", "O")),
        col("o_totalprice").cast("decimal(18,2)"),
        col("o_orderstatus") === "F")),
    "q297_forecast_eval" -> ((s, d) =>
      // seasonal-naive backtest scorecard per priority: MAE/RMSE/SMAPE +
      // MASE over monthly order counts
      Evaluation.forecastAccuracy(
        Tables.orders(s, d)
          .groupBy(col("o_orderpriority").as("prio"),
            (year(col("o_orderdate")) * 12 + month(col("o_orderdate"))).as("m"))
          .agg(count(lit(1)).as("cnt")),
        "prio", "m", "cnt", season = 12)),
    "q298_pinball" -> ((s, d) =>
      // quantile-forecast backtest: train-era p10/p50/p90 order value per
      // priority scored on the eval era with pinball loss
      Evaluation.pinballLoss(Tables.orders(s, d), "o_orderpriority",
        (col("o_totalprice").cast("decimal(18,2)") * 100).cast("long"),
        col("o_orderdate") < lit("1997-01-01").cast("date"),
        Seq(100, 500, 900))),
    "q299_adamic_adar" -> ((s, d) =>
      // who should be linked next: rare shared neighbors weighted
      // 1/ln(deg) over the repeat (wt≥2) co-occurrence graph — the raw
      // weight-1 graph at sf0.1 is near-complete (median deg 119, 148M
      // wedges measured): repeat co-purchase is the signal graph, and
      // the q238 link-prediction family runs on the same one
      Graph.adamicAdar(
        partCooccurrenceEdges(s, d).groupBy("pa", "pb")
          .agg(count(lit(1)).as("w")).filter(col("w") >= 2)
          .select("pa", "pb"),
        "pa", "pb", minCommon = 1, maxDegree = 10000, topK = 50)),
    "q300_harmonic" -> ((s, d) =>
      // which parts sit closest to everywhere: harmonic centrality from
      // a pinned 6-source BFS sample, 3 hops
      Graph.harmonicCentrality(partCooccurrenceEdges(s, d), "pa", "pb",
        sources = Seq(1L, 2L, 3L, 4L, 5L, 6L), maxHops = 3)),
    "q301_t_closeness" -> ((s, d) =>
      // the post-k/l leak: does any nation's segment mix sit too far from
      // the global mix (total-variation t-closeness)
      Privacy.tCloseness(Tables.customer(s, d), Seq("c_nationkey"),
        "c_mktsegment", threshold = 0.05)),
    "q302_rouge" -> ((s, d) => {
      // score the planted paraphrase pairs: ROUGE-1/2 clipped-overlap
      // precision/recall/F1, candidate = planted copy, reference = original
      val docs = Tables.documents(s, d)
      TextAnalysis.rougeOverlap(docsWithPlantedDups(docs), "doc_id", "text",
        docs.filter(col("doc_id") < 20)
          .select((col("doc_id") + 1000000).as("cand"), col("doc_id").as("ref")),
        "cand", "ref")
    }),
    "q303_lexical_diversity" -> ((s, d) =>
      // vocabulary richness per language bucket: TTR, hapax share, Yule's K
      TextAnalysis.lexicalDiversity(Tables.documents(s, d), "lang", "text")),
    "q304_cvm" -> ((s, d) =>
      // the everywhere-a-little drift KS under-weights: integrated squared
      // CDF gap between finished and open order values
      Evaluation.cramerVonMises(
        Tables.orders(s, d).filter(col("o_orderstatus").isin("F", "O")),
        col("o_totalprice").cast("decimal(18,2)"),
        col("o_orderstatus") === "F")),
    "q305_cliffs_delta" -> ((s, d) =>
      // the ordinal effect size next to q255's rank p-value: P(a>b)−P(a<b)
      Evaluation.cliffsDelta(
        Tables.orders(s, d).filter(col("o_orderstatus").isin("F", "O")),
        col("o_totalprice").cast("decimal(18,2)"),
        col("o_orderstatus") === "F")),
    "q306_runs_test" -> ((s, d) =>
      // is daily order volume a random sequence about its mean, or does
      // it run in regimes: Wald–Wolfowitz runs z
      Evaluation.runsTest(
        Tables.orders(s, d)
          .groupBy(datediff(col("o_orderdate"),
            lit("1992-01-01").cast("date")).as("t"))
          .agg(count(lit(1)).as("cnt")),
        "t", "cnt")),
    "q307_theil" -> ((s, d) =>
      // is char-volume concentration BETWEEN sources or INSIDE them:
      // additive Theil-T decomposition over document lengths
      Analytics.theilDecomposition(Tables.documents(s, d), "source",
        col("n_chars"))),
    "q308_hhi" -> ((s, d) =>
      // segment-mix concentration per nation: HHI + Shannon + evenness
      Analytics.concentrationProfile(Tables.customer(s, d), "c_nationkey",
        "c_mktsegment")),
    "q309_power" -> ((s, d) =>
      // how long must an experiment run per priority tier to detect a 2%
      // relative lift on the F-rate at 5%/80%
      Evaluation.powerAnalysis(Tables.orders(s, d), "o_orderpriority",
        col("o_orderstatus") === "F", "o_orderdate", mdePct = 2)),
    "q310_pq" -> ((s, d) =>
      // the memory side of the ANN ladder: 64-dim float32 → 4 codes
      // (64× compression), ADC top-10 from fixed-point table lookups
      Similarity.pqTopK(Tables.embeddings(s, d), "vec_id", "embedding",
        Seq(100L, 101L, 102L), kNeighbors = 10)),
    "q311_nelson_aalen" -> ((s, d) => {
      // q157's cohort, additive form: cumulative hazard + Fleming-
      // Harrington survival (the curve you DIFF between cohorts)
      val perUser = Tables.events(s, d)
        .groupBy("user_id")
        .agg(((max(unix_timestamp(col("ts"))) - min(unix_timestamp(col("ts"))))
          .cast("long")).as("span_sec"),
          count(when(col("event_type") === "purchase", lit(1))).as("purchases"))
        .select(expr("span_sec div 86400").as("t_days"),
          (col("purchases") > 0).as("died"))
      Evaluation.nelsonAalen(perUser, "t_days", col("died"))
    }),
    "q312_anova2" -> ((s, d) =>
      // quantity vs return-flag × line-status: main effects AND the
      // interaction one-way ANOVA can't see (Type-I sums, A then B)
      Evaluation.anovaTwoWay(Tables.lineitem(s, d), "l_returnflag",
        "l_linestatus", col("l_quantity").cast("long"))),
    "q313_digit_uniformity" -> ((s, d) =>
      // fabricated-amounts flag: are order-value CENTS uniform, or do
      // .00/.99 endings spike (Benford's tail-end sibling)
      Analytics.lastDigitUniformity(Tables.orders(s, d),
        col("o_totalprice"), topK = 5)),
    "q314_soundex_blocks" -> ((s, d) =>
      // phonetic blocking over part names: sound-alike spellings land in
      // one block — linkage recall where lexicographic windows miss
      Dedup.soundexBlocks(
        Tables.part(s, d).groupBy("p_name").agg(min("p_partkey").as("p_partkey")),
        "p_partkey", "p_name")),
    "q315_friedman" -> ((s, d) =>
      // does any priority tier consistently out-earn the others MONTH BY
      // MONTH (blocks remove seasonal level; q289 pools everything)
      Evaluation.friedman(Tables.orders(s, d),
        (year(col("o_orderdate")) * 12 + month(col("o_orderdate"))).as("m"),
        "o_orderpriority",
        (col("o_totalprice").cast("decimal(18,2)") * 100).cast("decimal(19,0)"))),
    "q316_mantel_haenszel" -> ((s, d) =>
      // does being in debt associate with finished orders AFTER adjusting
      // for segment mix: the confounder-pooled odds ratio
      Evaluation.mantelHaenszel(
        Tables.orders(s, d).join(Tables.customer(s, d),
          col("o_custkey") === col("c_custkey")),
        "c_mktsegment", col("c_acctbal") < 0, col("o_orderstatus") === "F")),
    "q317_dunn" -> ((s, d) =>
      // q289 said SOMETHING differs; Dunn says WHICH priority pairs, with
      // BH FDR over the 10 simultaneous pair tests
      Evaluation.dunnTest(Tables.orders(s, d), "o_orderpriority",
        col("o_totalprice").cast("decimal(18,2)"))),
    "q318_cochran_q" -> ((s, d) =>
      // do the event types penetrate users equally: the binary Friedman
      // over the user × event-type incidence matrix
      Evaluation.cochranQ(Tables.events(s, d), "user_id", "event_type",
        lit(true))),
    "q319_page_trend" -> ((s, d) =>
      // the ORDERED question q315 can't ask: do priority tiers earn
      // monotonically in their declared order, month by month
      Evaluation.pageTrend(Tables.orders(s, d),
        (year(col("o_orderdate")) * 12 + month(col("o_orderdate"))).as("m"),
        "o_orderpriority",
        (col("o_totalprice").cast("decimal(18,2)") * 100).cast("decimal(19,0)"))),
    "q320_partial_corr" -> ((s, d) =>
      // does quantity-revenue correlation survive holding discount fixed
      Evaluation.partialCorrelation(Tables.lineitem(s, d),
        col("l_quantity").cast("long"),
        (col("l_extendedprice").cast("decimal(18,2)") * 100).cast("long"),
        (col("l_discount").cast("decimal(18,2)") * 100).cast("long"))),
    "q321_seasonal_mk" -> ((s, d) =>
      // is yearly order volume trending once Januaries compare only with
      // Januaries: per-month S and exact-integer variance, combined
      Evaluation.seasonalMannKendall(
        Tables.orders(s, d)
          .groupBy(month(col("o_orderdate")).as("mo"),
            year(col("o_orderdate")).as("yr"))
          .agg(count(lit(1)).as("cnt")),
        col("mo"), "yr", "cnt")),
    "q322_jonckheere" -> ((s, d) =>
      // do order values shift UP across priority tiers in declared order
      // (the unblocked ordered question next to q319)
      Evaluation.jonckheereTerpstra(Tables.orders(s, d), "o_orderpriority",
        col("o_totalprice").cast("decimal(18,2)"))),
    "q323_morans_i" -> ((s, d) =>
      // is the geo metric CLUSTERED or salt-and-pepper: Moran's I over
      // the q248 md5-derived points with a cell-smooth value + noise
      Analytics.moransI(
        Tables.customer(s, d).select(col("c_custkey").as("id"),
          pmod(conv(substring(md5(concat(lit("gx:"),
            col("c_custkey").cast("string"))), 1, 8), 16, 10).cast("long"),
            lit(10000000L)).as("x"),
          pmod(conv(substring(md5(concat(lit("gy:"),
            col("c_custkey").cast("string"))), 1, 8), 16, 10).cast("long"),
            lit(10000000L)).as("y"))
          .withColumn("v",
            pmod(expr("x div 1000000") * 7 + expr("y div 1000000") * 3, lit(50))
              + pmod(col("id"), lit(10))),
        "id", "x", "y", "v", cellSize = 1000000L)),
    "q324_getis_ord" -> ((s, d) =>
      // q323 said clustered; General G says WHICH kind — do HIGH values
      // cluster (G > W/(n(n−1))) or low ones
      Analytics.getisOrdG(
        Tables.customer(s, d).select(col("c_custkey").as("id"),
          pmod(conv(substring(md5(concat(lit("gx:"),
            col("c_custkey").cast("string"))), 1, 8), 16, 10).cast("long"),
            lit(10000000L)).as("x"),
          pmod(conv(substring(md5(concat(lit("gy:"),
            col("c_custkey").cast("string"))), 1, 8), 16, 10).cast("long"),
            lit(10000000L)).as("y"))
          .withColumn("v",
            pmod(expr("x div 1000000") * 7 + expr("y div 1000000") * 3, lit(50))
              + pmod(col("id"), lit(10))),
        "id", "x", "y", "v", cellSize = 1000000L)),
    "q286_markov_entropy" -> ((s, d) =>
      // one number for behavioral predictability: entropy rate of the
      // event-type Markov chain in bits
      Analytics.markovEntropyRate(Tables.events(s, d), "user_id", "ts",
        "event_id", "event_type")),
    "q287_kfold_cv" -> ((s, d) =>
      // 5-fold CV of the per-priority mean model: per-fold MSE + the
      // cross-fold spread a single holdout hides; folds never retrain
      Analytics.kFoldCv(Tables.orders(s, d), "o_orderkey",
        "o_orderpriority", "o_totalprice")),
    "q284_eb_shrinkage" -> ((s, d) =>
      // leaderboard fix: per-part return rates shrunk toward the
      // method-of-moments beta prior; 3/3 stops beating 95/100
      Evaluation.ebShrink(Tables.lineitem(s, d), "l_partkey",
        col("l_returnflag") === "R")),
    "q285_slo_burn" -> ((s, d) =>
      // SRE gate: hourly + rolling-6h error-budget burn, alert on both>1
      Analytics.sloBurn(Tables.events(s, d), "ts",
        col("event_type") === "error", budget = 0.25)),
    "q282_tukey" -> ((s, d) =>
      // WHICH priority tiers differ in mean order value: studentized
      // pairwise differences against the pooled within-group variance
      Evaluation.tukeyPairs(Tables.orders(s, d), "o_orderpriority",
        col("o_totalprice").cast("decimal(18,2)"))),
    "q283_sprt" -> ((s, d) =>
      // when could the experiment have STOPPED: Wald SPRT on the daily
      // purchase-share stream, H0 p=0.18 vs H1 p=0.22, α=.05 β=.2
      Evaluation.sprt(Tables.events(s, d), "ts",
        col("event_type") === "purchase", 0.18, 0.22)),
    "q278_levene" -> ((s, d) =>
      // do priority tiers differ in SPREAD of order value (the ANOVA
      // precondition q185 assumes): Levene W on |x − group mean|
      Evaluation.leveneTest(Tables.orders(s, d), "o_orderpriority",
        col("o_totalprice"))),
    "q279_hellinger" -> ((s, d) => {
      // bounded drift distance on the q142 cells: Hellinger ∈ [0,1]
      val ev = Tables.events(s, d)
      Evaluation.hellingerDrift(ev.filter(col("event_type") === "view"),
        ev.filter(col("event_type") === "purchase"), "value", 10)
    }),
    "q280_mmd" -> ((s, d) =>
      // embedding-space two-sample test: did label-0 vectors drift from
      // label-1 vectors (RBF-kernel MMD², capped unbiased estimator)
      Similarity.mmdTest(Tables.embeddings(s, d), "vec_id", "embedding",
        col("label") === 0)),
    "q281_durbin_watson" -> ((s, d) =>
      // is daily event volume's detrended residual still autocorrelated
      Analytics.durbinWatson(Tables.events(s, d), "ts")),
    "q276_copula" -> ((s, d) =>
      // where does quantity–price dependence live: rank-decile grid
      Analytics.copulaGrid(Tables.lineitem(s, d), "l_quantity",
        "l_extendedprice", 10)),
    "q277_cat_assoc" -> ((s, d) =>
      // categorical dependency audit: Cramér's V + Theil's U per pair
      Evaluation.categoricalAssociation(
        Tables.orders(s, d).select(col("o_orderstatus").as("status"),
          col("o_orderpriority").as("priority"),
          date_format(col("o_orderdate"), "yyyy-MM").as("month")),
        Seq(("status", "priority"), ("priority", "status"),
            ("status", "month")))),
    "q274_url_dedup" -> ((s, d) => {
      // crawl-style URL canonicalization: four deterministic cosmetic
      // variants (host case, :443, utm_* params, fragment) per doc must
      // collapse to one canonical key; groups with ≥2 variants reported
      val id40 = (col("doc_id") % 40).cast("string")
      val base = concat(lit("https://www."), col("source"),
        lit(".example.com/Docs/"), id40)
      val v = col("doc_id") % 4
      val url = when(v === 0, base)
        .when(v === 1, concat(lit("HTTPS://WWW."), upper(col("source")),
          lit(".EXAMPLE.COM/Docs/"), id40))
        .when(v === 2, concat(base, lit("?utm_source=feed&utm_campaign=x")))
        .otherwise(concat(lit("https://www."), col("source"),
          lit(".example.com:443/Docs/"), id40, lit("#sec-2")))
      Curation.urlDedup(
        Tables.documents(s, d).select(col("doc_id"), url.as("url")),
        "doc_id", "url")
    }),
    "q275_dispersion" -> ((s, d) =>
      // is daily event volume Poisson-plausible per type, or bursty
      Analytics.dispersionCheck(Tables.events(s, d), "event_type", "ts")),
    "q272_join_estimate" -> ((s, d) =>
      // CBO audit: Selinger uniform estimate vs exact Σ n_a(v)·n_b(v)
      // for orders ⋈ lineitem on the order key
      Analytics.joinSizeEstimate(Tables.orders(s, d), Tables.lineitem(s, d),
        "o_orderkey", "l_orderkey")),
    "q273_fd_discovery" -> ((s, d) =>
      // schema profiling: which column pairs are functional dependencies
      Analytics.functionalDependencies(Tables.orders(s, d), Seq(
        ("o_orderkey", "o_custkey"),       // PK → anything: must hold
        ("o_custkey", "o_orderpriority"),  // repeat customers: expect violations
        ("o_orderstatus", "o_orderpriority")))),
    "q268_delta_join" -> ((s, d) => {
      // incremental view maintenance: new join rows from (dL⋈R)∪(L⋈dR)∪
      // (dL⋈dR) — history is never re-joined; oracle proves the identity
      // as full-join aggregate minus old-join aggregate
      val cut = lit("1998-01-01").cast("timestamp")
      val o = Tables.orders(s, d).select(col("o_custkey").as("k"),
        col("o_totalprice"), col("o_orderdate"))
      val c = Tables.customer(s, d).select(col("c_custkey").as("k"),
        col("c_nationkey"), pmod(col("c_custkey"), lit(7)).as("m"))
      Analytics.incrementalJoinDelta(
        o.filter(col("o_orderdate") < cut).drop("o_orderdate"),
        o.filter(col("o_orderdate") >= cut).drop("o_orderdate"),
        c.filter(col("m") =!= 0).drop("m"),
        c.filter(col("m") === 0).drop("m"),
        "k", "c_nationkey", "o_totalprice")
    }),
    "q269_stump" -> ((s, d) =>
      // depth-1 decision tree: the order-value threshold that best
      // separates finished orders, by exact weighted Gini
      Evaluation.bestSplit(Tables.orders(s, d),
        col("o_totalprice").cast("decimal(18,2)"),
        col("o_orderstatus") === "F")),
    "q270_ipw" -> ((s, d) =>
      // stratified IPW treatment effect: user-parity "treatment" on
      // event value, propensity per event_type stratum
      Evaluation.ipwEffect(Tables.events(s, d), "event_type",
        col("user_id") % 2 === 1, col("value"))),
    "q271_knee" -> ((s, d) => {
      // where does part popularity stop paying: knee of the cumulative
      // (Lorenz) demand curve, parts ranked by line count
      val counts = Tables.lineitem(s, d).groupBy("l_partkey")
        .agg(count(lit(1)).as("c"))
      val ord = Window.orderBy(col("c").desc, col("l_partkey"))
      val curve = counts
        .select(row_number().over(ord).cast("long").as("x"), col("c"))
        .withColumn("y", sum("c").over(Window.orderBy("x")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .select("x", "y")
      Analytics.kneePoint(curve, "x", "y", concave = true)
    }),
    "q267_asof_native" -> ((s, d) => {
      // q40's point-in-time lookup through the custom WHOLE-OPERATOR
      // extension path: AsOfJoinPlan → AsOfJoinStrategy → AsOfJoinExec
      // (merge scan; Catalyst places the exchanges from the operator's
      // declared distribution/ordering). Same oracle as q40.
      val orders = Tables.orders(s, d)
        .groupBy(col("o_custkey").as("r_user"), col("o_orderdate"))
        .agg(max("o_orderkey").as("o_orderkey"))
      org.apache.spark.sql.graftnative.NativeAsOf.join(
          Tables.events(s, d).select("event_id", "user_id", "ts"), orders,
          "user_id", "r_user", "ts", "o_orderdate", "o_orderkey")
        .select("event_id", "user_id", "o_orderkey")
        .orderBy("event_id")
    }),
    "q263_mcnemar" -> ((s, d) =>
      // did per-user purchasing CHANGE between the two halves of the
      // month: discordant-pair test on paired binary activity flags
      Evaluation.mcnemar(Tables.events(s, d), "user_id",
        col("event_type") === "purchase" &&
          col("ts") < lit("2024-01-16").cast("timestamp"),
        col("event_type") === "purchase" &&
          col("ts") >= lit("2024-01-16").cast("timestamp"))),
    "q264_cochran_armitage" -> ((s, d) =>
      // does completion rate trend across ordered priority tiers (the
      // leading digit of o_orderpriority is the dose weight)
      Evaluation.cochranArmitage(Tables.orders(s, d),
        substring(col("o_orderpriority"), 1, 1),
        col("o_orderstatus") === "F")),
    "q265_bradley_terry" -> ((s, d) => {
      // preference-pair strengths: within an order, the pricier line's
      // part family "beats" the cheaper one; 2 unrolled MM iterations
      val li = Tables.lineitem(s, d).select(col("l_orderkey").as("k"),
        col("l_linenumber").as("ln"), pmod(col("l_partkey"), lit(20)).as("item"),
        col("l_extendedprice").as("v"))
      val a = li.select(col("k"), col("ln").as("ln_a"), col("item").as("item_a"), col("v").as("v_a"))
      val b = li.select(col("k"), col("ln").as("ln_b"), col("item").as("item_b"), col("v").as("v_b"))
      val contests = a.join(b, Seq("k"))
        .filter(col("ln_a") < col("ln_b") && col("item_a") =!= col("item_b") &&
          col("v_a") =!= col("v_b"))
        .select(when(col("v_a") > col("v_b"), col("item_a")).otherwise(col("item_b")).as("winner"),
          when(col("v_a") > col("v_b"), col("item_b")).otherwise(col("item_a")).as("loser"))
      Evaluation.bradleyTerry(contests, "winner", "loser", iters = 2)
    }),
    "q266_modularity" -> ((s, d) =>
      // is the brand grouping a real community structure on the
      // support-filtered co-purchase graph (q238's edge rule)
      Graph.modularity(
        partCooccurrenceEdges(s, d).groupBy("pa", "pb")
          .agg(count(lit(1)).as("w")).filter(col("w") >= 2)
          .select("pa", "pb"),
        "pa", "pb",
        Tables.part(s, d).select(col("p_partkey"),
          concat(lit("b"), pmod(col("p_partkey"), lit(8))).as("brand")),
        "p_partkey", "brand")),
    "q255_mannwhitney" -> ((s, d) =>
      // did order value shift between finished and open orders: rank-sum
      // U + tie-corrected z over per-distinct-value counts
      Evaluation.mannWhitney(
        Tables.orders(s, d).filter(col("o_orderstatus").isin("F", "O")),
        col("o_totalprice").cast("decimal(18,2)"),
        col("o_orderstatus") === "F")),
    "q256_bh_fdr" -> ((s, d) =>
      // 25 simultaneous nation-share tests → BH step-up q-values at α=.05
      Evaluation.benjaminiHochberg(
        Evaluation.shareTestPValues(Tables.customer(s, d), "c_nationkey"),
        "key", "p", 0.05)),
    "q257_kendall" -> ((s, d) =>
      // do quantity and price move together within an order: pooled
      // within-group concordant/discordant pair counts → tau-b
      Analytics.kendallWithinGroups(Tables.lineitem(s, d), "l_orderkey",
        "l_linenumber", "l_quantity", "l_extendedprice")),
    "q258_kde" -> ((s, d) =>
      // smooth order-value distribution at 21 grid points, h=25k
      Analytics.kdeGrid(Tables.orders(s, d), col("o_totalprice"),
        0.0, 500000.0, 21, 25000.0)),
    "q259_mann_kendall" -> ((s, d) =>
      // is monthly order volume drifting per priority class
      Evaluation.mannKendall(
        Tables.orders(s, d).groupBy(col("o_orderpriority").as("pri"),
            date_format(col("o_orderdate"), "yyyy-MM").as("m"))
          .agg(count(lit(1)).as("cnt")),
        "pri", "m", "cnt")),
    "q260_streaks" -> ((s, d) =>
      // consecutive-order-day streaks per customer, as a length histogram
      Analytics.streakHistogram(Tables.orders(s, d), "o_custkey",
        col("o_orderdate"))),
    "q261_simpson" -> ((s, d) =>
      // would the aggregated priority comparison mislead: per-status
      // strata sign vs aggregate sign, exact cross-multiplied means
      Evaluation.simpsonFlips(Tables.orders(s, d), "o_orderpriority",
        "o_orderstatus", col("o_totalprice"))),
    "q262_hub_assign" -> ((s, d) =>
      // route customers (md5-derived coordinates) to the nearest of 8
      // fixed hubs by great-circle distance; per-hub load report
      RangeJoin.haversineNearestHub(
        Tables.customer(s, d).select(col("c_custkey").as("id"),
          (pmod(conv(substring(md5(concat(lit("lat:"),
            col("c_custkey").cast("string"))), 1, 8), 16, 10).cast("long"),
            lit(120000000L)).cast("double") / 1000000.0 - 60.0).as("lat"),
          (pmod(conv(substring(md5(concat(lit("lon:"),
            col("c_custkey").cast("string"))), 1, 8), 16, 10).cast("long"),
            lit(360000000L)).cast("double") / 1000000.0 - 180.0).as("lon")),
        "id", "lat", "lon",
        Seq(("ams", 52.37, 4.90), ("gru", -23.55, -46.63),
            ("hkg", 22.32, 114.17), ("jnb", -26.20, 28.04),
            ("lax", 34.05, -118.24), ("nrt", 35.68, 139.65),
            ("nyc", 40.71, -74.01), ("syd", -33.87, 151.21)))),
    "q246_segment_dedup" -> ((s, d) =>
      // CCNet-shaped boilerplate removal: drop 8-token segments shared
      // across documents, re-assemble the survivors in order
      Curation.segmentDedup(Tables.documents(s, d), "doc_id", "text")),
    "q247_winnow" -> ((s, d) =>
      // MOSS winnowing: window-min k-gram fingerprints → overlap pairs
      TextAnalysis.winnowPairs(Tables.documents(s, d), "doc_id", "text")),
    "q248_grid_join" -> ((s, d) =>
      // spatial blocking: pairs within 30k micro-units, 3×3 cell probe,
      // coordinates derived md5-deterministically from the customer key
      RangeJoin.gridProximityJoin(
        Tables.customer(s, d).select(col("c_custkey").as("id"),
          pmod(conv(substring(md5(concat(lit("gx:"),
            col("c_custkey").cast("string"))), 1, 8), 16, 10).cast("long"),
            lit(10000000L)).as("x"),
          pmod(conv(substring(md5(concat(lit("gy:"),
            col("c_custkey").cast("string"))), 1, 8), 16, 10).cast("long"),
            lit(10000000L)).as("y")),
        "id", "x", "y", 100000L)),
    "q249_naive_bayes" -> ((s, d) =>
      // count-based multinomial NB trained on the corpus's own lang labels,
      // scored in place; decimal-quantized logs make argmax engine-stable
      Evaluation.naiveBayes(Tables.documents(s, d), "doc_id", "text", "lang")),
    "q250_target_encode" -> ((s, d) =>
      // leakage-free categorical encoding: LOO mean order value per customer
      Analytics.targetEncode(Tables.orders(s, d), "o_orderkey", "o_custkey",
        "o_totalprice")),
    "q251_holt" -> ((s, d) =>
      // trend-aware smoothing of daily event volumes + 7-day forecast;
      // α=0.5/β=0.25 are exact binary fractions ⇒ bit-stable recurrence
      Analytics.holtForecast(Tables.events(s, d), "event_type", "ts")),
    "q245_window_funnel" -> ((s, d) =>
      // conversion within 7 days of first touch, greedy earliest-match
      Analytics.windowFunnel(Tables.events(s, d), "user_id", "ts",
        "event_type", Seq("signup", "click", "purchase"))),
    "q244_changepoint" -> ((s, d) =>
      // WHERE the daily level shifted: argmin split of SSE_l + SSE_r
      Analytics.changepoint(Tables.events(s, d), "ts")),
    "q243_cohort_ltv" -> ((s, d) =>
      // cohort LTV triangle: revenue by (first-seen week, weeks-since),
      // cumulative per-user LTV against the full cohort size
      Analytics.cohortLtv(Tables.events(s, d), "user_id", "ts", "value")),
    "q242_dp_sum" -> ((s, d) =>
      // ε=1 DP revenue release: clip to [0,10], quantize to clip units,
      // integer geometric noise — the portable continuous-Laplace stand-in
      Privacy.dpNoisySum(Tables.events(s, d), "event_type", "value")),
    "q241_synth_agg" -> ((s, d) =>
      // aggregate pushdown on the V2 generator: count/min/max answered
      // from the pushed interval without synthesizing rows (sf-independent)
      s.read.format("synthdocs").option("rows", "10000000").load()
        .filter(col("doc_id") >= 1000 && col("doc_id") < 9000000)
        .agg(count(lit(1)).as("n_docs"), min("doc_id").as("min_id"),
          max("doc_id").as("max_id"))),
    "q240_ppr" -> ((s, d) => {
      // random walk with restart to parts {1,2}: "related to THESE parts";
      // symmetrized like q110 so no node dangles. Support-floored edges
      // (w≥2): the raw near-complete graph made this the slowest query in
      // the suite and its iterative fanout grows with corpus density
      val e = supportedCooccurrenceEdges(s, d)
      Graph.personalizedPageRank(
        e.unionAll(e.select(col("pb").as("pa"), col("pa").as("pb"))),
        "pa", "pb", Seq(1L, 2L))
    }),
    "q239_sax" -> ((s, d) =>
      // PAA + quartile-breakpoint letters over the daily series
      Analytics.saxSymbolize(Tables.events(s, d), "ts")),
    "q238_link_jaccard" -> ((s, d) =>
      // link-prediction feature: neighbor-set Jaccard via wedge counts.
      // Edges take a support filter first (pair co-occurs in ≥2 orders —
      // the standard market-basket noise floor): the raw co-occurrence
      // graph is near-complete (avg degree ~120 ⇒ 1.5e8 wedges) and
      // 1-off co-purchases carry no link signal anyway
      Graph.neighborJaccard(
        partCooccurrenceEdges(s, d).groupBy("pa", "pb")
          .agg(count(lit(1)).as("w")).filter(col("w") >= 2)
          .select("pa", "pb"),
        "pa", "pb", minCommon = 1)),
    "q237_compression" -> ((s, d) =>
      // ★ DEFLATE ratio quality signal (round 9): runs the REAL deflate
      // loop over the pattern corpus (text a pure function of doc_id, 64
      // patterns spanning repetitive → near-random), so the oracle is a
      // JVM-precomputed constant table of expected byte counts — same
      // zlib, same level, same process as the executors. Real-text
      // behavior stays spec-pinned in TextAnalysisSpec.
      TextAnalysis.compressionRatio(
        TextAnalysis.synthCompressionDocs(
          Tables.documents(s, d).select("doc_id"), "doc_id"),
        "doc_id", "text")),
    "q236_readability" -> ((s, d) =>
      // Flesch ease + FK grade per document, scan-speed projection
      TextAnalysis.readability(Tables.documents(s, d), "doc_id", "text")),
    "q235_tail_index" -> ((s, d) =>
      // Hill power-law tail estimate over order totals; TakeOrdered top-k,
      // micro-quantized ln terms
      Analytics.hillTailIndex(Tables.orders(s, d), "o_orderkey",
        "o_totalprice")),
    "q234_erasure_audit" -> ((s, d) => {
      // GDPR dry run: forget every 97th customer, report cascade impact
      val cust = Tables.customer(s, d)
      Relational.erasureAudit(
        cust.filter(pmod(col("c_custkey"), lit(97)) === 0),
        cust, Tables.orders(s, d), Tables.lineitem(s, d))
    }),
    "q325_erasure_execute" -> ((s, d) => {
      // q234's detect→fix pair completed: EXECUTE the same cascade as
      // child-first idempotent anti-join rewrites and prove the post-state
      // (rows before/deleted/after + exact surviving-key checksums)
      val cust = Tables.customer(s, d)
      Relational.erasureExecute(
        cust.filter(pmod(col("c_custkey"), lit(97)) === 0),
        cust, Tables.orders(s, d), Tables.lineitem(s, d))
    }),
    "q233_item_cf" -> ((s, d) =>
      // "users who touched k also touched k'" over the props payload;
      // one-shuffle pair explode, never an all-pairs item join
      Similarity.itemItemCF(
        Tables.events(s, d).withColumn("item",
          get_json_object(col("props"), "$.k").cast("long")),
        "user_id", "item")),
    "q232_stl" -> ((s, d) =>
      // trend/weekly-seasonal/residual split of the daily event series;
      // micro-unit quantization keeps the decomposition engine-exact
      Analytics.seasonalDecompose(Tables.events(s, d), "ts")),
    "q231_eigencentrality" -> ((s, d) =>
      // power iteration on the SUPPORT-FLOORED part co-occurrence graph
      // (= HITS on the symmetrized adjacency); max-normalized, 3 unrolled
      // rounds. w≥2 floor per q238: iterative fanout on the raw
      // near-complete graph densifies with scale
      Graph.eigenCentrality(supportedCooccurrenceEdges(s, d), "pa", "pb")),
    "q230_gopher_rules" -> ((s, d) =>
      // published-quality-filter audit: per-rule flags + composed verdict
      Curation.gopherRules(Tables.documents(s, d), "doc_id", "text")),
    "q229_dp_counts" -> ((s, d) =>
      // ε=1 discrete-Laplace release of per-type event counts; noise is a
      // deterministic function of (seed, key) so the release is auditable
      Privacy.dpNoisyCounts(Tables.events(s, d), "event_type")),
    "q228_bootstrap_ci" -> ((s, d) =>
      // distributed Poisson bootstrap: 40 replicates in one pass, CI from
      // order statistics of the replicate means
      Analytics.poissonBootstrapCI(Tables.events(s, d), "event_id", "value")),
    "q227_rfm" -> ((s, d) =>
      // per-segment RFM quintiles; windows partitioned by mktsegment
      Reports.rfmSegments(Tables.orders(s, d), Tables.customer(s, d),
        "1998-12-01")),
    "q226_blocklist" -> ((s, d) =>
      // multi-pattern content screen in one Aho-Corasick text scan; the
      // demo dictionary is border-free words so per-pattern all-occurrence
      // counts equal the oracle's non-overlapping replace-length math
      TextAnalysis.blocklistScreen(Tables.documents(s, d), "doc_id", "text",
        Seq("value", "table", "spark", "query", "batch", "filter", "join", "data"))),
    "q225_cuped" -> ((s, d) =>
      // variance-reduced A/B readout: previous-day covariate, pooled theta
      Evaluation.cuped(Tables.events(s, d), "user_id", "ts", "value")),
    "q224_bfs_distance" -> ((s, d) =>
      // blast-radius tiers from seed parts through the co-occurrence graph;
      // bounded synchronous frontier expansion (rounds = maxHops)
      Graph.bfsDistances(partCooccurrenceEdges(s, d), "pa", "pb",
        Seq(1L, 2L), maxHops = 2)),
    "q223_pca" -> ((s, d) =>
      // ★ oracle-checked PCA: exact fixed-point moments + unrolled
      // quantized power iteration/deflation (3 steps × 2 components) —
      // every intermediate an exact integer or correctly-rounded rational,
      // so the unrolled-CTE oracle matches hash-exactly. The breeze
      // eigensolve variant (pcaProject) stays spec-pinned as the
      // exact-eigen path of the same capability
      Similarity.pcaPowerProject(Tables.embeddings(s, d), "vec_id",
        "embedding", k = 2, iters = 3)),
    "q222_bpe_subwords" -> ((s, d) => {
      // token-cost estimate under the freshly trained merge table. ★ since
      // round 10: the independent reference tokenizer's word → subword-count
      // map is pinned; DuckDB recomputes the per-doc sums itself
      // (bpeSubwordsOracleSql); per-doc subword counts, greedy semantics
      // batched trainer: provably the same merge table in fewer job waves
      // (see q221)
      val merges = Curation.bpeTrainBatched(Tables.documents(s, d), "text", BpeMerges)
        .orderBy("rank").collect()
        .map(r => (r.getString(1), r.getString(2))).toSeq
      Curation.bpeEncode(Tables.documents(s, d), "doc_id", "text", merges)
    }),
    "q218_kanon_repair" -> ((s, d) =>
      // release at the first generalization level where every
      // (quasi-identifier) class reaches k=32 — q171's audit, repaired
      Privacy.kAnonymityRepair(Tables.orders(s, d), Seq(
        "day_priority" -> Seq(date_format(col("o_orderdate"), "yyyy-MM-dd"),
          col("o_orderpriority")),
        "month_priority" -> Seq(date_format(col("o_orderdate"), "yyyy-MM"),
          col("o_orderpriority")),
        "month" -> Seq(date_format(col("o_orderdate"), "yyyy-MM")),
        "year" -> Seq(date_format(col("o_orderdate"), "yyyy"))),
        k = 32)),
    "q215_corr_matrix" -> ((s, d) =>
      // all pairwise correlations of lineitem's numeric columns, one scan
      Analytics.correlationMatrix(Tables.lineitem(s, d), Seq(
        "l_discount" -> col("l_discount").cast("decimal(18,6)"),
        "l_extendedprice" -> col("l_extendedprice").cast("decimal(18,6)"),
        "l_quantity" -> col("l_quantity").cast("decimal(18,6)"),
        "l_tax" -> col("l_tax").cast("decimal(18,6)")))),
    "q216_freshness" -> ((s, d) =>
      // is any event source stale, and how much trailing volume does it carry
      Analytics.freshnessReport(Tables.events(s, d), "event_type", "ts")),
    "q217_forecast_baseline" -> ((s, d) =>
      // the sanity floor a real forecaster must beat on daily event volume
      Analytics.seasonalNaiveEval(
        Tables.events(s, d)
          .groupBy(date_format(col("ts"), "yyyy-MM-dd").as("day"))
          .agg(count(lit(1)).as("n")),
        "day", "n")),
    "q214_blocking_quality" -> ((s, d) => {
      // tune the SN blocking scheme: planted 1-edit name variants are the
      // ground truth; PC = how many it finds, RR = how much n² it skips
      val names = Tables.part(s, d).groupBy("p_name")
        .agg(min("p_partkey").as("p_partkey"))
      val planted = names.filter(col("p_partkey") < 400)
        .select(concat(col("p_name"), lit("x")).as("p_name"),
          (col("p_partkey") + 7000000).as("p_partkey"))
      val records = names.unionAll(planted)
      val truth = names.filter(col("p_partkey") < 400)
        .select(col("p_partkey").as("id_a"),
          (col("p_partkey") + 7000000).as("id_b"))
      val cands = Dedup.sortedNeighborhoodPairs(records, "p_partkey", "p_name",
        maxDist = 3)
      Dedup.blockingQuality(cands, "id_a", "id_b", truth, "id_a", "id_b",
        records.count())
    }),
    "q212_threshold_sweep" -> ((s, d) =>
      // where to cut the score: best-F1 and best-Youden operating points
      Evaluation.thresholdSweep(Tables.orders(s, d),
        (col("o_orderkey") % 1000) / lit(1000.0),
        col("o_orderstatus") === "F")),
    "q213_brier" -> ((s, d) =>
      // is the score miscalibrated, uninformative, or is the problem hard
      Evaluation.brierDecomposition(Tables.orders(s, d),
        (col("o_orderkey") % 1000) / lit(1000.0),
        col("o_orderstatus") === "F", bins = 10)),
    "q210_cluster_split" -> ((s, d) => {
      // the FIX for q182's leakage: same planted copies, but the split
      // hashes the duplicate-cluster representative — copies can no
      // longer straddle train/val/test by construction
      val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
        .unionAll(Tables.documents(s, d).filter(col("doc_id") < 40)
          .select((col("doc_id") + 2000000).as("doc_id"), col("text")))
      val a = docs.select(col("doc_id").as("doc_id_a"), md5(col("text")).as("h"))
      val b = docs.select(col("doc_id").as("doc_id_b"), md5(col("text")).as("h"))
      val pairs = a.join(b, "h").where(col("doc_id_a") < col("doc_id_b"))
        .select("doc_id_a", "doc_id_b")
      Splits.clusterAwareSplit(docs, "doc_id", pairs, "doc_id_a", "doc_id_b")
    }),
    "q211_kcenter" -> ((s, d) =>
      // 4 maximally spread exemplar vectors (greedy farthest-point)
      Similarity.kCenterSelect(Tables.embeddings(s, d), "vec_id",
        "embedding", k = 4)),
    "q207_jackknife" -> ((s, d) =>
      // failed-revenue share with a delete-1-bucket jackknife CI (ratio
      // metric: the unit of randomization is the customer bucket, not row)
      Evaluation.jackknifeRatioSE(Tables.orders(s, d),
        pmod(col("o_custkey"), lit(16)),
        when(col("o_orderstatus") === "F", col("o_totalprice")).otherwise(lit(0.0))
          .cast("decimal(18,2)"),
        col("o_totalprice").cast("decimal(18,2)"))),
    "q208_capture_recapture" -> ((s, d) =>
      // estimate the distinct-customer population from two deterministic
      // partial "crawls" of orders
      Analytics.captureRecapture(
        Tables.orders(s, d).filter(col("o_orderkey") % 7 === 0), "o_custkey",
        Tables.orders(s, d).filter(col("o_orderkey") % 11 === 0), "o_custkey")),
    "q209_dedup_report" -> ((s, d) => {
      // per-source dup observability over a corpus with planted exact and
      // unicode-equivalent copies (q203's planting, source-tagged)
      val docs = Tables.documents(s, d).select(col("source"), col("doc_id"), col("text"))
      val planted = Tables.documents(s, d).filter(col("doc_id") < 30)
        .select(col("source"), (col("doc_id") + 5000000).as("doc_id"),
          upper(col("text")).as("text"))
      Dedup.dedupReportBySource(docs.unionAll(planted), "source", "doc_id", "text")
    }),
    "q204_incremental_lsh" -> ((s, d) => {
      // incremental ingest dedup: corpus indexed ONCE, the new batch
      // (planted near-dups + exact copies) probes the index, candidates
      // verify with exact jaccard — corpus never re-hashed
      val corpus = Tables.documents(s, d).select(col("doc_id"), col("text"))
      val newBatch = Tables.documents(s, d).filter(col("doc_id") < 20)
        .select((col("doc_id") + 1000000).as("doc_id"),
          concat(col("text"), lit(" planted near duplicate tail")).as("text"))
        .unionAll(Tables.documents(s, d).filter(col("doc_id") >= 480)
          .select((col("doc_id") + 1500000).as("doc_id"), col("text")))
      val index = Dedup.minhashBandIndex(corpus, "doc_id", "text")
      val cands = Dedup.minhashCandidatesAgainstIndex(newBatch, "doc_id",
        "text", index)
      Dedup.ngramJaccard(corpus.unionAll(newBatch), "doc_id", "text",
        cands, threshold = 0.5)
    }),
    "q205_missing_partitions" -> ((s, d) =>
      // which (event_type, day) partitions never landed over the span —
      // a planted outage (purchases dark before Jan 6) must surface
      Issues.missingPartitions(
        Tables.events(s, d).filter(!(col("event_type") === "purchase" &&
          col("ts") < to_timestamp(lit("2024-01-06 00:00:00")))),
        "event_type", "ts")),
    "q206_flatten_json" -> ((s, d) => {
      // land props as typed columns; plant malformed payloads — flagged,
      // never dropped, never a task failure
      val ev = Tables.events(s, d).select(col("event_id"), col("props"))
      val bad = Tables.events(s, d).filter(col("event_id") < 50)
        .select((col("event_id") + 9000000).as("event_id"),
          lit("{not json").as("props"))
      Analytics.flattenJson(ev.unionAll(bad), "props", "k BIGINT")
        .select(col("event_id"), col("k"), col("is_valid"))
        .orderBy("event_id")
    }),
    "q202_allocation" -> ((s, d) =>
      // budget 1000 slots across sources, allocations sum EXACTLY to 1000
      Splits.proportionalAllocation(Tables.documents(s, d), "source", 1000L)),
    "q203_nfc_dedup" -> ((s, d) => {
      // plant unicode-equivalent copies: composed é vs decomposed e+◌́ and
      // case variants of real docs — byte-exact dedup misses all of them
      val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
      val composed = docs.filter(col("doc_id") < 20)
        .select((col("doc_id") + 3000000).as("doc_id"),
          concat(lit("résumé "), upper(col("text"))).as("text"))
      val decomposed = docs.filter(col("doc_id") < 20)
        .select((col("doc_id") + 4000000).as("doc_id"),
          concat(lit("re\u0301sume\u0301 "), col("text")).as("text"))
      Dedup.normalizedExact(docs.unionAll(composed).unionAll(decomposed),
        "doc_id", "text")
    }),
    "q199_ewma" -> ((s, d) => {
      // recency-weighted daily-volume baseline (adjust=True EWMA, 30-obs
      // truncation) — the smoothed level anomaly rules compare against
      val daily = Tables.events(s, d)
        .groupBy(date_format(col("ts"), "yyyy-MM-dd").as("day"))
        .agg(count(lit(1)).cast("double").as("n"))
      Analytics.ewmaSeries(daily, "day", "n", alpha = 0.1, window = 30)
        .select(col("day"), col("n").cast("long").as("n"), col("ewma"))
    }),
    "q200_join_overlap" -> ((s, d) => {
      // ★ via the coupon-exact regime (the q89 argument): ≤150 distinct
      // users at driver SFs keeps every DataSketches HLL in coupon mode,
      // so est_a/est_b/est_union EQUAL the exact distinct counts and the
      // inclusion-exclusion intersection is oracle-checkable; the
      // approximate-regime 5% envelope stays spec'd in AnalyticsSpec
      val ev = Tables.events(s, d)
      Analytics.joinKeyOverlapEstimate(
        ev.filter(col("event_type") === "purchase"), "user_id",
        ev.filter(col("event_type") === "view"), "user_id")
    }),
    "q201_drift_report" -> ((s, d) => {
      // every-feature drift gate: purchase-event distribution vs the view
      // reference, per column
      val ev = Tables.events(s, d).select(col("event_type"), col("value"),
        col("ts").cast("long").cast("double").as("es"))
      Evaluation.driftReport(
        ev.filter(col("event_type") === "view").drop("event_type"),
        ev.filter(col("event_type") === "purchase").drop("event_type"),
        Seq("es", "value"))
    }),
    "q196_expectations" -> ((s, d) =>
      // declarative data contract over orders — one scan, all rules
      Issues.expectationReport(Tables.orders(s, d), Seq(
        "key_positive" -> (col("o_orderkey") > 0),
        "status_domain" -> col("o_orderstatus").isin("O", "F", "P"),
        "price_range" -> (col("o_totalprice") > 0 && col("o_totalprice") < 600000),
        "date_present" -> col("o_orderdate").isNotNull,
        "priority_format" -> col("o_orderpriority").rlike("^[1-5]-")))),
    "q197_linkage_em" -> ((s, d) => {
      // unsupervised (m,u,prior) re-fit over the q181 candidate pairs
      val pairs = Dedup.fuzzyPairs(
        Tables.part(s, d).groupBy("p_name").agg(min("p_partkey").as("p_partkey")),
        "p_partkey", "p_name", maxDist = 2)
      Dedup.linkageEmRound(pairs, "id_a", "id_b", Tables.part(s, d), "p_partkey",
        Seq(("p_brand", 0.9, 0.04), ("p_type", 0.85, 0.02), ("p_size", 0.8, 0.02)),
        prior = 0.2)
    }),
    "q198_top_paths" -> ((s, d) =>
      // discovered top-20 opening paths (first 6 events per user)
      Analytics.topPaths(Tables.events(s, d), "user_id", "ts", "event_id",
        "event_type", firstN = 6, k = 20)),
    "q195_image_neardups" -> ((s, d) =>
      // ★ pair set (round 9): every payload is a pure function of doc_id
      // (pattern doc_id%40, container (doc_id/40)%3), so the 120 possible
      // (pattern, format) dHashes are precomputed once in the JVM and the
      // expected pair list is a constant-table join the oracle recomputes;
      // recall is EXACT by the pigeonhole band guarantee (≤2 differing
      // bits cannot touch all 3 chunks) WITH the bucket cap lifted past
      // corpus size (q25's rule): 27 of the 120 combo dHashes share band-0
      // chunk value 0, so the default 1000-doc cap binds from ~4.4k docs
      // (at sf0.1's 5000 docs it silently dropped 312 true pairs — the
      // cap's truncation semantics stay spec'd in DedupSpec, scale use
      // keeps the cap + exact-dedup-first). Round 10: the lift is no longer
      // a manual literal — imageNearDupPairsExact DERIVES the cap from a
      // corpus count and fails loudly past its regime bound, so an SF bump
      // can never silently re-bind it. The pixel hashes themselves stay
      // ☆ spec-verified (MultimodalSpec planted groups). Ids sharing
      // id%40 render identical patterns in MIXED containers (BMP/PNG/JPEG
      // via ImageIO) → planted dup groups that CROSS the format boundary —
      // only decoded-pixel hashing can see them.
      {
        val ids = Tables.documents(s, d).select("doc_id")
        Multimodal.imageNearDupPairsExact(
          Multimodal.synthesizeMixedImages(ids, "doc_id"),
          "doc_id", maxHamming = 2,
          // count the cheap pre-synthesis id column — counting the media
          // side would re-run every ImageIO encode (round-10 review)
          corpusCount = ids.count())
      }),
    "q193_scd2_lookup" -> ((s, d) => {
      // enrich each order with the status version valid one day later —
      // the "as the entity WAS at event time" warehouse join
      val hist = Analytics.scd2(Tables.orders(s, d), "o_custkey",
        "o_orderstatus", "o_orderdate")
      RangeJoin.scd2Lookup(
        Tables.orders(s, d).select(col("o_orderkey"), col("o_custkey"),
          (col("o_orderdate") + expr("INTERVAL 1 DAY")).as("ts")),
        "o_custkey", "ts", hist, "o_custkey", "valid_from", "valid_to")
        .select(col("o_orderkey"), col("o_custkey"),
          col("__d_o_orderstatus").as("status_at"))
        .orderBy("o_orderkey")
    }),
    "q194_twap" -> ((s, d) =>
      // exposure-weighted mean event value per user (chat bursts don't
      // over-weight); plain AVG is the wrong estimator here
      Analytics.timeWeightedAvg(Tables.events(s, d), "user_id", "ts",
        "value", "event_id")),
    "q190_rendezvous" -> ((s, d) =>
      // HRW owner among 8 shards per doc — resize moves only 1/(N+1)
      Splits.rendezvousShards(Tables.documents(s, d).select("doc_id"),
        "doc_id", 8).orderBy("doc_id")),
    "q191_zone_manifest" -> ((s, d) =>
      // per-month zones over orders: the stats a skipping scan consults
      Analytics.zoneMapManifest(Tables.orders(s, d),
        date_format(col("o_orderdate"), "yyyy-MM"),
        Seq("o_orderkey", "o_totalprice"))),
    "q192_debounce" -> ((s, d) =>
      // burst leaders per (user, type), 30 s cooldown
      Analytics.debounce(Tables.events(s, d), "user_id", "event_type",
        "ts", "event_id", 30)
        .select(col("user_id"), col("event_type"), col("event_id"),
          col("__es").as("es"))
        .orderBy("user_id", "event_type", "es", "event_id")),
    "q189_keyset_page" -> ((s, d) =>
      // page after cursor (1998-01-01, key 7500), 50 rows; date-cast output
      Relational.keysetPage(Tables.orders(s, d),
        Seq("o_orderdate" -> java.time.Instant.parse("1998-01-01T00:00:00Z"),
          "o_orderkey" -> 7500L), 50)
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
          col("o_totalprice"),
          date_format(col("o_orderdate"), "yyyy-MM-dd").as("o_date"))),
    "q152_calibration" -> ((s, d) =>
      // does a synthetic [0,1) score's confidence track the F rate per bin
      Evaluation.calibration(Tables.orders(s, d),
        (col("o_orderkey") % 1000) / lit(1000.0),
        col("o_orderstatus") === "F", 10)),
    "q153_drift_snapshot" -> ((s, d) =>
      // the streaming drift monitor's batch twin (StreamingSpec asserts
      // stream ≡ batch on this same function); reference-anchored bins
      EventStream.distributionSnapshot(Tables.events(s, d), "value", 0.0, 500.0, 10)
        .orderBy("window_start", "bin")),
    "q151_incremental_agg" -> ((s, d) => {
      // three disjoint batches aggregated INDEPENDENTLY, merged without
      // rescanning — must be bit-identical to one full-scan aggregate
      // (the oracle computes the full scan)
      val ev = Tables.events(s, d)
      val states = Seq(0, 1, 2).map(k =>
        Analytics.aggState(ev.filter(col("event_id") % 3 === k), "event_type", "value"))
      Analytics.mergeAggStates(states.reduce(_.unionAll(_)), "event_type")
    }),
    "q148_js_divergence" -> ((s, d) =>
      // which source's token distribution drifted vs the pooled corpus
      Evaluation.jsDivergence(Tables.documents(s, d), "source", "text")),
    "q149_integrity_audit" -> ((s, d) => {
      // FK orphan counts across the star schema — the lake-side CHECK for
      // what Postgres enforced in the reference
      val li = Tables.lineitem(s, d); val o = Tables.orders(s, d)
      Issues.orphanCounts("customer->nation", Tables.customer(s, d), "c_nationkey",
          Tables.nation(s, d), "n_nationkey")
        .unionAll(Issues.orphanCounts("lineitem->orders", li, "l_orderkey", o, "o_orderkey"))
        .unionAll(Issues.orphanCounts("lineitem->part", li, "l_partkey",
          Tables.part(s, d), "p_partkey"))
        .unionAll(Issues.orphanCounts("orders->customer", o, "o_custkey",
          Tables.customer(s, d), "c_custkey"))
        .orderBy("relationship")
    }),
    "q150_topn_ties" -> ((s, d) =>
      Relational.topNPerGroupWithTies(Tables.events(s, d), 3)),
    "q147_synth_source" -> ((s, _) =>
      // the DataSourceV2 generator (no files touched — content is a pure
      // function of doc_id, reproduced by the oracle from range()); the
      // range filter is consumed by the source's pushdown
      s.read.format("synthdocs")
        .option("rows", "2000").option("partitions", "8").load()
        .filter(col("doc_id") >= 500 && col("doc_id") < 1500)
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("sum_chars"))
        .orderBy("lang")),
    "q146_encoding" -> ((s, d) =>
      TextAnalysis.encodingAnomalies(Tables.documents(s, d), "doc_id", "text")),
    "q139_label_prop" -> ((s, d) =>
      // SUPPORT-FLOORED co-occurrence graph (w≥2, the q231/q240/q238
      // criterion: label propagation is ITERATIVE, so per-round join
      // fanout grows with raw-graph density at scale); 2 synchronous
      // rounds. One-shot structural consumers (q133 triangles, q224 BFS,
      // q300 harmonic) keep the raw graph — see SURVEY §8
      Graph.labelPropagation(supportedCooccurrenceEdges(s, d), "pa", "pb")),
    "q138_doc_cosine" -> ((s, d) =>
      // finds the corpus's planted near-dups from bigram count vectors —
      // natural pairs top out near 0.27, planted ones sit ≥0.99, so the
      // 0.5 threshold has a wide margin on both sides
      Dedup.sparseDocCosine(Tables.documents(s, d), "doc_id", "text")),
    "q137_zorder" -> ((s, d) =>
      // morton key over the two filter dims of lineitem; files written in
      // this order carry tight part/supp zone maps simultaneously. All four
      // id columns: (orderkey, linenumber) alone is NOT unique in this data
      // — and sf0.001 even holds one FULLY duplicated 4-tuple, which the
      // oracle's GROUP BY collapses; dropDuplicates mirrors that (z is a
      // function of the tuple, so nothing else can differ)
      Analytics.zorderKey(Tables.lineitem(s, d), "l_partkey", "l_suppkey",
        Seq("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey"))
        .dropDuplicates(Seq("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey"))
        .orderBy("z", "l_orderkey", "l_linenumber", "l_partkey", "l_suppkey")),
    "q134_negative_sample" -> ((s, d) =>
      Splits.negativeSample(Tables.documents(s, d), "doc_id", "text", 5)),
    "q135_hard_negatives" -> ((s, d) =>
      // rank-only projection like q27; the oracle reproduces the exact
      // double-accumulation cosine so even near-tie orderings agree
      Similarity.hardNegatives(Tables.embeddings(s, d), "vec_id", "embedding",
        "label", Seq(0L, 1L, 2L, 3L, 4L, 5L, 6L, 7L), 5)
        .select("query_id", "neighbor_id", "rank")),
    "q136_class_balance" -> ((s, d) =>
      Splits.classBalance(Tables.embeddings(s, d), "vec_id", "label")),
    "q133_triangles" -> ((s, d) =>
      Graph.triangleCounts(partCooccurrenceEdges(s, d), "pa", "pb")),
    "q112_user_lifecycle" -> ((s, d) =>
      Analytics.growthAccounting(Tables.events(s, d), "user_id", "ts")),
    "q116_decayed_score" -> ((s, d) =>
      Analytics.decayedScore(Tables.events(s, d), "user_id", "ts", "value", 7.0)),
    "q119_weighted_sample" -> ((s, d) =>
      Splits.weightedSample(Tables.documents(s, d), "lang", "doc_id", "n_chars", 10)),
    "q120_feature_hash" -> ((s, d) =>
      TextAnalysis.featureHash(Tables.documents(s, d), "doc_id", "text")),
    "q121_token_entropy" -> ((s, d) =>
      Curation.tokenEntropy(Tables.documents(s, d), "doc_id", "text")),
    "q123_corpus_pipeline" -> ((s, d) => {
      // the capstone composition — what a real corpus job runs end-to-end:
      // quality filter + exact dedup (curate) → hash split (train only) →
      // sequence packing; every stage is the already-verified operator
      val docs = Tables.documents(s, d)
      val kept = Curation.curate(docs, "doc_id", "text").select("doc_id")
      val enriched = docs.join(kept, "doc_id")
        .select(col("doc_id"), col("source"), col("text"))
      val train = Splits.assignSplit(enriched, "doc_id")
        .filter(col("split") === "train")
      Curation.packSequences(train, "doc_id", "source", "text", 512)
    }),
    "q122_bigram_novelty" -> ((s, d) =>
      Curation.bigramNovelty(Tables.documents(s, d), "doc_id", "text")),
    "q124_gini" -> ((s, d) =>
      Analytics.giniByGroup(Tables.events(s, d), "event_type", "event_id", "value")),
    "q125_dup_spans" -> ((s, d) =>
      Dedup.duplicatedSpans(Tables.documents(s, d), "doc_id", "text")),
    "q126_setsim_join" -> ((s, d) =>
      // EXACT shingle-set jaccard pairs via prefix filtering — the
      // deterministic 100%-recall complement of q24's MinHash/LSH path:
      // same planted corpus, same shingle space, same all-pairs truth
      Dedup.setSimilarityJoin(docsWithPlantedDups(Tables.documents(s, d)),
        "doc_id", "text", threshold = 0.5)),
    "q127_ohlc" -> ((s, d) =>
      // single-pass min_by/max_by bars; (ts, event_id) struct keys make
      // open/close arrival-order-independent
      Analytics.ohlc(Tables.events(s, d), "user_id", "ts", "event_id", "value")),
    "q128_impute" -> ((s, d) =>
      // deterministic null injection (click rows), then per-user mean fill
      Analytics.imputeByGroup(
        Tables.events(s, d).select(col("user_id"), col("event_id"),
          when(col("event_type") === "click", lit(null))
            .otherwise(col("value")).as("value")),
        "user_id", "event_id", "value")),
    "q129_rolling_median" -> ((s, d) =>
      Analytics.rollingMedian(Tables.events(s, d),
        "user_id", "ts", "event_id", "value")),
    "q130_jaro_winkler" -> ((s, d) =>
      // VALUE-checked fuzzy scoring: the native jaro_winkler expression is
      // bit-compatible with DuckDB's, so the oracle compares exact doubles
      Dedup.jaroWinklerPairs(
        Tables.part(s, d).groupBy("p_name").agg(min("p_partkey").as("p_partkey")),
        "p_partkey", "p_name", threshold = 0.85)),
    "q131_bloom_semi" -> ((s, d) =>
      // ~1%-selective dim (keys ≡ 0 mod 97): the Bloom probe prunes the
      // fact side at the scan, the exact semi join settles fpp — result is
      // identical to a plain semi join, which is exactly what the oracle is
      Relational.bloomPrunedSemiJoin(
        Tables.lineitem(s, d),
        Tables.orders(s, d).filter(col("o_orderkey") % 97 === 0),
        "l_orderkey", "o_orderkey")
        .select("l_orderkey", "l_linenumber", "l_quantity")
        .orderBy("l_orderkey", "l_linenumber")),
    "q118_event_pattern" -> ((s, d) =>
      Analytics.eventPattern(Tables.events(s, d), "user_id", "ts", "event_id",
        "event_type", "signup(>[a-z]+)*>purchase")),
    "q117_sorted_neighborhood" -> ((s, d) =>
      // maxDist=3: the testdata's adjacent-name pairs sit at distance 3
      // (dist≤2 is empty at every SF — q60's prefix blocking agrees)
      Dedup.sortedNeighborhoodPairs(
        Tables.part(s, d).groupBy("p_name").agg(min("p_partkey").as("p_partkey")),
        "p_partkey", "p_name", maxDist = 3)),
    "q115_snapshot_diff" -> ((s, d) => {
      // two deterministic "versions" of orders: v2 drops %3 keys, adds %5
      // keys back, and rewrites the status of %7 keys
      val o = Tables.orders(s, d).select("o_orderkey", "o_orderstatus", "o_totalprice")
      val v1 = o.filter(col("o_orderkey") % 3 =!= 0)
      val v2 = o.filter(col("o_orderkey") % 5 =!= 0)
        .withColumn("o_orderstatus",
          when(col("o_orderkey") % 7 === 0, lit("X")).otherwise(col("o_orderstatus")))
      Analytics.diffSnapshots(v1, v2, "o_orderkey")
    }),
    "q114_cdc_compact" -> ((s, d) =>
      // events as the changelog: latest event per user, 'error' as tombstone
      Analytics.cdcCompact(
        Tables.events(s, d).select("user_id", "ts", "event_id", "event_type", "value"),
        "user_id", "ts", "event_id", "event_type", "error")),
    "q113_golden_record" -> ((s, d) => {
      // entity resolution end-to-end: fuzzy pairs → star CC → canonical
      // record per duplicate cluster (longest name, id tiebreak)
      val names = Tables.part(s, d).groupBy("p_name").agg(min("p_partkey").as("p_partkey"))
      val pairs = Dedup.fuzzyPairs(names, "p_partkey", "p_name", maxDist = 2)
      Dedup.goldenRecords(names, "p_partkey", "p_name", pairs)
    }),
    "q41_pricing_summary" -> ((s, d) =>
      dbl(Reports.pricingSummary(Tables.lineitem(s, d), "2000-01-01 00:00:00"))),
    "q42_shipping_priority" -> ((s, d) =>
      dbl(Reports.shippingPriority(Tables.customer(s, d), Tables.orders(s, d),
        Tables.lineitem(s, d), "BUILDING", "1998-06-01 00:00:00"))),
    "q43_local_supplier_volume" -> ((s, d) =>
      dbl(Reports.localSupplierVolume(Tables.region(s, d), Tables.nation(s, d),
        Tables.customer(s, d), Tables.orders(s, d), Tables.lineitem(s, d),
        Tables.supplier(s, d), "ASIA", "1997-01-01 00:00:00", "1999-01-01 00:00:00"))),
    "q44_train_split" -> ((s, d) =>
      Splits.assignSplit(Tables.documents(s, d), "doc_id")
        .groupBy("split").agg(count(lit(1)).as("n_docs")).orderBy("split")),
    "q45_dataset_mix" -> ((s, d) =>
      Splits.mixBySource(Tables.documents(s, d), "doc_id", "source",
          Map("src0" -> 256, "src1" -> 128, "src2" -> 0), 64)
        .select("doc_id", "source").orderBy("doc_id")),
    "q46_repetition" -> ((s, d) =>
      dbl(Curation.repetitionStats(Tables.documents(s, d), "doc_id", "text"))),
    "q47_pii_redact" -> ((s, d) =>
      Curation.redact(Tables.customer(s, d), "c_custkey", "c_name")),
    "q48_vocab_topk" -> ((s, d) =>
      Curation.vocabulary(Tables.documents(s, d), "text", 50)),
    "q49_tfidf" -> ((s, d) =>
      dbl(Curation.tfidfTopTerm(Tables.documents(s, d), "doc_id", "text"))),
    "q88_unigram_ll" -> ((s, d) =>
      Curation.unigramLogLikelihood(Tables.documents(s, d), "doc_id", "text")),
    "q50_pack_sequences" -> ((s, d) =>
      Curation.packSequences(Tables.documents(s, d), "doc_id", "source", "text", 512)),
    "q51_json_extract" -> ((s, d) =>
      Analytics.jsonFieldSum(Tables.events(s, d))),
    "q56_group_sample" -> ((s, d) =>
      Analytics.sampleByGroup(Tables.documents(s, d), "source", "doc_id", 5)
        .select("source", "doc_id", "sample_rank")),
    "q57_heavy_hitters" -> ((s, d) =>
      // candidate-token frequency estimates from a one-pass mergeable CMS;
      // width (2/eps) >> distinct tokens here, so estimates are exact and
      // the DuckDB oracle can check true counts
      Analytics.heavyHitters(
        Tables.documents(s, d).select(explode(Curation.tokens(col("text"))).as("tok")),
        "tok", Seq("scan", "table", "the", "row", "hash"))),
    "q52_rollup" -> ((s, d) =>
      Reports.orderRollup(Tables.orders(s, d), Tables.customer(s, d), Tables.nation(s, d))),
    "q61_mg_heavy_hitters" -> ((s, d) => {
      // ★ via the exact regime (the q57 argument): k-1 = 15 counters >
      // 5 distinct event types ⇒ no evictions ever fire, so the merged
      // Misra-Gries summary IS the exact (type → count) table per bucket —
      // the udaf's map-side partials, shuffle, and merge path all execute
      // for real. Eviction/undercount semantics stay spec'd in
      // MisraGriesSpec (the approximate regime has no SQL twin).
      val mg = udaf(new MisraGries(16))
      Tables.events(s, d)
        .select(pmod(col("user_id"), lit(10)).as("bucket"), col("event_type"))
        .groupBy("bucket").agg(mg(col("event_type")).as("m"))
        .select(col("bucket"), explode(col("m")).as(Seq("event_type", "cnt")))
        .orderBy("bucket", "event_type")
    }),
    "q58_pivot" -> ((s, d) =>
      Reports.nationYearPivot(Tables.orders(s, d), Tables.customer(s, d),
        Tables.nation(s, d), Seq(1995, 1996, 1997, 1998))),
    "q62_skew_profile" -> ((s, d) =>
      dbl(Analytics.keySkewProfile(Tables.lineitem(s, d), "l_orderkey"))),
    "q78_set_ops" -> ((s, d) =>
      Relational.cohortOverlap(Tables.events(s, d), "click", "purchase")),
    "q85_chunking" -> ((s, d) =>
      Curation.chunkDocuments(Tables.documents(s, d), "doc_id", "text",
        size = 120, overlap = 20)),
    "q82_cooccur_pmi" -> ((s, d) =>
      dbl(Curation.cooccurrencePmi(Tables.documents(s, d), "doc_id", "text",
        Seq("scan", "table", "hash", "join", "sort")))),
    "q79_normalize" -> ((s, d) =>
      // accent-suffixed input so the fold is actually exercised, not vacuous
      Tables.documents(s, d)
        .select(col("doc_id"),
          Curation.normalizeText(concat(col("text"), lit("  CAFÉ  naïve  ÑOÑO")))
            .as("norm_text"))
        .orderBy("doc_id")),
    "q80_nested_export" -> ((s, d) =>
      Relational.nestedExport(Tables.orders(s, d))),
    "q84_lag_features" -> ((s, d) =>
      dbl(Analytics.lagFeatures(Tables.events(s, d), "user_id", "ts", "event_id", "value", 3))),
    "q83_anomalies" -> ((s, d) =>
      dbl(Analytics.zScoreAnomalies(
        Tables.events(s, d).select("event_type", "value"), "event_type", "value", 3.0)
        .orderBy("event_type", "value"))),
    "q76_histogram" -> ((s, d) =>
      dbl(Analytics.histogram(Tables.orders(s, d), "o_totalprice", 0.0, 50000.0, 12))),
    "q77_corr" -> ((s, d) =>
      dbl(Analytics.corrByGroup(
        Tables.events(s, d).select(col("event_type"), col("value"),
          get_json_object(col("props"), "$.k").cast("long").as("k")),
        "event_type", "value", "k"))),
    "q74_profile" -> ((s, d) =>
      Analytics.profile(Tables.orders(s, d),
        Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority"))),
    "q75_scd2" -> ((s, d) =>
      Analytics.scd2(Tables.orders(s, d), "o_custkey", "o_orderstatus", "o_orderdate")),
    "q73_interval_overlap" -> ((s, d) => {
      // two sampled sets of order activity windows; which pairs overlap?
      def windows(modK: Int, days: Int) = Tables.orders(s, d)
        .where(col("o_orderkey") % modK === 0)
        .select(col("o_orderkey"), col("o_orderdate").as("w_start"),
          (col("o_orderdate") + expr(s"INTERVAL $days DAYS")).as("w_end"))
      RangeJoin.intervalOverlap(
          windows(499, 30), "w_start", "w_end",
          windows(503, 45), "w_start", "w_end", bucketSeconds = 30 * 86400L)
        .select(col("o_orderkey_a").as("key_a"), col("o_orderkey_b").as("key_b"))
        .orderBy("key_a", "key_b")
    }),
    "q70_cube" -> ((s, d) =>
      Reports.statusYearCube(Tables.orders(s, d))),
    "q71_deciles" -> ((s, d) =>
      dbl(Reports.orderDeciles(Tables.orders(s, d)))),
    "q72_above_avg" -> ((s, d) =>
      dbl(Reports.aboveCustomerAverage(Tables.orders(s, d)))),
    "q67_series_filled" -> ((s, d) =>
      Analytics.monthlySeriesFilled(Tables.orders(s, d), Tables.customer(s, d),
        Tables.nation(s, d))),
    "q68_funnel" -> ((s, d) =>
      dbl(Analytics.funnel(Tables.events(s, d), "click", "purchase", windowHours = 24))),
    "q69_unpivot" -> ((s, d) =>
      // zero-filled cells dropped for oracle parity (the SQL twin GROUP BY
      // only produces populated combinations)
      Reports.unpivotYears(
        Reports.nationYearPivot(Tables.orders(s, d), Tables.customer(s, d),
          Tables.nation(s, d), Seq(1995, 1996, 1997, 1998)),
        Seq(1995, 1996, 1997, 1998))
        .where(col("n_orders") > 0)),
    "q66_curate" -> ((s, d) =>
      dbl(Curation.curate(Tables.documents(s, d), "doc_id", "text")
        .select("doc_id", "n_tokens", "dup_ratio"))),
    "q63_dedup_clusters" -> ((s, d) => {
      // fuzzy-pair edges → connected components → cluster per node: the
      // full "pairs to keep-one-representative" dedup pipeline tail
      val pairs = Dedup.fuzzyPairs(
        Tables.part(s, d).groupBy("p_name").agg(min("p_partkey").as("p_partkey")),
        "p_partkey", "p_name", maxDist = 2)
      Dedup.connectedComponents(pairs, "id_a", "id_b")
    }),
    "q87_dedup_clusters_star" -> ((s, d) => {
      // same pipeline tail through the alternating large-star/small-star CC
      // (O(log²) rounds — the pathological-diameter-safe variant); same truth
      val pairs = Dedup.fuzzyPairs(
        Tables.part(s, d).groupBy("p_name").agg(min("p_partkey").as("p_partkey")),
        "p_partkey", "p_name", maxDist = 2)
      Dedup.connectedComponentsStar(pairs, "id_a", "id_b")
    }),
    "q59_mom_delta" -> ((s, d) =>
      dbl(Reports.monthlyRevenueDelta(Tables.orders(s, d), Tables.customer(s, d),
        Tables.nation(s, d)))),
    "q60_fuzzy_match" -> ((s, d) =>
      // canonicalize FIRST: fuzzy-match the distinct-name vocabulary (64
      // names at sf0.1), not the 20k rows sharing them — id-level pairing
      // is inherently quadratic in duplicates-per-name (measured 20 s vs
      // 0.4 s at sf0.1). min(id) keeps a stable representative per name.
      Dedup.fuzzyPairs(
        Tables.part(s, d).groupBy("p_name").agg(min("p_partkey").as("p_partkey")),
        "p_partkey", "p_name", maxDist = 2)),
    "q53_contamination" -> ((s, d) =>
      Curation.contaminationScreen(Tables.documents(s, d), "doc_id", "text",
        col("source") === "src0", 8)),
    "q55_range_join" -> ((s, d) => {
      // ALL events inside each sampled user's first-2-days window (pure
      // range predicate, no equi-key): bucketized to a hash join, never a
      // nested loop
      val ev = Tables.events(s, d)
      val iv = ev.where(col("user_id") % 7 === 0)
        .groupBy("user_id").agg(min("ts").as("w_start"))
        .select(col("user_id"), col("w_start"),
          (col("w_start") + expr("INTERVAL 2 DAYS")).as("w_end"))
      RangeJoin.pointInInterval(ev.select("event_id", "ts"), "ts",
          iv, "w_start", "w_end", bucketSeconds = 86400L)
        .groupBy("user_id").agg(count(lit(1)).as("n_events"))
        .orderBy("user_id")
    }),
    "q40_asof_join" -> ((s, d) => {
      // latest order at-or-before each event, per user (point-in-time lookup);
      // right side pre-deduped per (user, time) so ties are deterministic
      val orders = Tables.orders(s, d)
        .groupBy(col("o_custkey").as("user_id"), col("o_orderdate"))
        .agg(max("o_orderkey").as("o_orderkey"))
      AsOf.join(Tables.events(s, d).select("event_id", "user_id", "ts"), orders,
          "user_id", "ts", "o_orderdate", Seq("o_orderkey"), "o_orderkey")
        .select("event_id", "user_id", "o_orderkey")
        .orderBy("event_id")
    }),

    // C. issue detection ----------------------------------------------------
    "q10_duplicate_key" -> ((s, d) =>
      Issues.duplicateKeys(Tables.events(s, d), "user_id", "event_type")),
    "q11_invalid_email" -> ((s, d) =>
      Issues.invalidEmails(withEmail(Tables.customer(s, d)), "email")
        .select("c_custkey", "email").orderBy("c_custkey")),
    "q12_existing_email" -> ((s, d) => {
      val contacts = withEmail(Tables.customer(s, d))
      val valid = contacts.filter(Cols.emailValid(col("email")))
        .select(col("email").as("contact_email"))
      Issues.existingKeys(stagingFromOrders(Tables.orders(s, d)), valid,
        "email", "contact_email", anti = true).orderBy("o_orderkey")
    }),
    "q13_missing_required" -> ((s, d) => {
      val c = Tables.customer(s, d)
        .withColumn("first_name",
          when(col("c_custkey") % 13 === 0, lit(null).cast("string"))
            .when(col("c_custkey") % 17 === 0, lit("   "))
            .otherwise(col("c_name")))
        .withColumn("company",
          when(col("c_custkey") % 19 === 0, lit("")).otherwise(col("c_mktsegment")))
      Issues.missingRequired(c, Seq("first_name", "company"))
        .select("c_custkey", "first_name", "company").orderBy("c_custkey")
    }),
    "q16_status_update" -> ((s, d) => {
      val df = Tables.orders(s, d).filter(col("o_orderstatus") === "P")
        .select(col("o_orderkey"),
          lit(null).cast("timestamp").as("issue_resolved_at"),
          lit(null).cast("string").as("issue_resolved_by"),
          lit(false).as("resolved"),
          col("o_orderdate"))
      Issues.resolve(df, "resolved", setResolved = true, "admin", col("o_orderdate"))
        .select("o_orderkey", "resolved", "issue_resolved_by", "issue_resolved_at")
        .orderBy("o_orderkey")
    }),
    "q17_conditional_delete" -> ((s, d) =>
      Issues.conditionalDelete(Tables.orders(s, d), "o_orderstatus", Seq("P"))
        .orderBy("o_orderkey")),
    "q33_merge_updates" -> ((s, d) => {
      val customer = Tables.customer(s, d)
      val updates = customer.filter(col("c_custkey") % 10 === 0)
        .select(col("c_custkey"), lit("UPDATED").as("new_seg"))
      Issues.mergeUpdates(customer, updates, Seq("c_custkey"), Map("c_mktsegment" -> "new_seg"))
        .orderBy("c_custkey")
    }),

    // A. ingest -------------------------------------------------------------
    "q14_file_hash_dedup" -> ((s, d) =>
      Tables.events(s, d)
        .groupBy(md5(col("props")).as("file_hash"))
        .agg(min("event_id").as("first_id"), count(lit(1)).as("n_uploads"))
        .filter(col("n_uploads") > 1)
        .orderBy("file_hash")),
    "q15_row_hash" -> ((s, d) =>
      Tables.lineitem(s, d).select(
        col("l_orderkey"), col("l_linenumber"),
        Cols.rowHashSha( // sha-256, as the reference's staging_row_hash (issue.py:81)
          col("l_orderkey").cast("string"), col("l_linenumber").cast("string"),
          col("l_quantity").cast("decimal(18,2)").cast("string"),
          col("l_returnflag")).as("staging_row_hash"))
        .orderBy("l_orderkey", "l_linenumber")),
    "q31_csv_ingest" -> ((s, _) => csvIngestDemo(s).orderBy("email")),
    "q32_header_map" -> ((s, _) => {
      import s.implicits._
      Seq("E-Mail", "email_address", "NOME", "Sobrenome", "empresa",
          "  First Name  ", "Custom Field!", "org")
        .toDF("raw")
        .as[String].map(r => (r, CsvIngest.normalizeHeader(r)))
        .toDF("raw", "mapped").orderBy("raw")
    }),

    // E. LLM-pipeline -------------------------------------------------------
    "q20_dedup_exact" -> ((s, d) =>
      Dedup.exact(Tables.documents(s, d), "doc_id", "text")),
    "q21_token_count" -> ((s, d) =>
      TextAnalysis.tokenCounts(Tables.documents(s, d), "doc_id", "text")),
    "q22_quality_score" -> ((s, d) =>
      dbl(TextAnalysis.qualityScore(Tables.documents(s, d), "doc_id", "text"))),
    "q23_lang_id" -> ((s, d) =>
      TextAnalysis.langId(Tables.documents(s, d), "doc_id", "text")),
    "q29_fingerprint" -> ((s, d) =>
      TextAnalysis.fingerprints(Tables.documents(s, d), "doc_id", "text")),
    "q24_minhash_lsh" -> ((s, d) => {
      // full near-dup pipeline: MinHash/LSH candidate generation (unfiltered,
      // max recall) then EXACT jaccard verification at 0.5 — exact values make
      // this oracle-checkable against a DuckDB all-pairs truth query (the
      // est_jaccard-only variant stays covered by DedupSpec)
      val corpus = docsWithPlantedDups(Tables.documents(s, d))
      val cands = Dedup.minhashCandidates(corpus, "doc_id", "text")
      Dedup.ngramJaccard(corpus, "doc_id", "text", cands, threshold = 0.5)
    }),
    "q25_simhash" -> ((s, d) =>
      // ★ via the md5-token signature twin (DuckDB's md5_number_upper):
      // the banded pigeonhole join's (id_a, id_b, hamming) output equals
      // the all-pairs SQL truth exactly — complete recall at maxHamming=3,
      // maxBucket lifted past corpus size so the scale cap can't truncate
      // (the cap's truncation semantics stay spec'd in DedupSpec)
      Dedup.simhashPairsPortable(docsWithPlantedDups(Tables.documents(s, d)),
        "doc_id", "text", maxHamming = 3, maxBucket = 1 << 20)),
    "q26_ngram_jaccard" -> ((s, d) => {
      // UNFILTERED candidates (like q24): an est_jaccard>=0.3 prefilter could
      // drop a true near-threshold pair on estimation error alone, making the
      // all-pairs oracle data-dependently flaky
      val corpus = docsWithPlantedDups(Tables.documents(s, d))
      val cands = Dedup.minhashCandidates(corpus, "doc_id", "text")
      Dedup.ngramJaccard(corpus, "doc_id", "text", cands, threshold = 0.3)
    }),
    "q27_ann_bruteforce" -> ((s, d) =>
      // rank-only projection: cosine VALUES would differ across engines in
      // the last float ulps; the ordering is what the oracle checks
      Similarity.bruteForceTopK(Tables.embeddings(s, d), "vec_id", "embedding", Seq(0L, 1L, 2L, 3L, 4L), 5)
        .select("query_id", "neighbor_id", "rank")),
    "q28_ann_lsh" -> ((s, d) =>
      // full-probe configuration (bitsPerBand=0 → one bucket): the band-join
      // plumbing runs end-to-end and the result is the exact top-k, so the
      // q27-shaped oracle applies; rank-only projection (cosine VALUES differ
      // across engines in ulps). Real-recall parameters live in SimilaritySpec.
      Similarity.annLshTopK(Tables.embeddings(s, d), "vec_id", "embedding",
          Seq(0L, 1L, 2L, 3L, 4L), 5, bands = 1, bitsPerBand = 0)
        .select("query_id", "neighbor_id", "rank")),
    "q54_ann_ivf" -> ((s, d) =>
      // nProbe = nCells = full probe: exact through the IVF cell machinery
      // (assignment, probe join) — oracle-checkable like q28/q27
      Similarity.annIvfTopK(Tables.embeddings(s, d), "vec_id", "embedding",
          Seq(100L, 101L, 102L, 103L, 104L), 5, nCells = 16, nProbe = 16)
        .select("query_id", "neighbor_id", "rank")),
    "q81_kmeans" -> ((s, d) =>
      // deterministic Lloyd assignments (rows-only check: iterative, not
      // SQL-expressible; determinism + blob recovery proven in spec)
      Similarity.kmeansAssign(Tables.embeddings(s, d), "vec_id", "embedding",
        k = 8, iters = 3)
        .groupBy("cluster").agg(count(lit(1)).as("n_members")).orderBy("cluster")),
    "q64_cosine_pairs" -> ((s, d) =>
      dbl(Similarity.consecutiveCosines(Tables.embeddings(s, d), "vec_id", "embedding"))),
    "q65_label_centroids" -> ((s, d) =>
      dbl(Similarity.labelCentroids(Tables.embeddings(s, d), "label", "embedding"))),
    "q132_gram_matrix" -> ((s, d) =>
      // per-partition outer-product partials; integer micro-unit math makes
      // the cells exact under any partitioning AND any oracle sum order
      Similarity.gramMatrix(Tables.embeddings(s, d), "embedding")),
    "q30_near_dup_cosine" -> ((s, d) =>
      // ids-only projection (cosine value is engine-ulp-sensitive); the truth
      // set is a DuckDB all-pairs cosine>=0.95 query — max natural cosine in
      // this corpus is ~0.51, so the threshold has a wide margin both sides
      Similarity.nearDupCosine(embeddingsWithPlantedDups(Tables.embeddings(s, d)),
          "vec_id", "embedding", threshold = 0.95)
        .select("vec_id_a", "vec_id_b").orderBy("vec_id_a", "vec_id_b")),
    "q34_multimodal" -> ((s, d) => {
      // multimodal decode verified END-TO-END (★, round 8): BMP + PNG
      // payloads (the lossless containers — both real codecs: pure-JVM BMP
      // parse + ImageIO PNG) synthesized per doc, resized 8×8 → 4×4
      // nearest-neighbor, decoded back; WAV synthesized and header-parsed.
      // Every projected column is a pure function of doc_id, so the DuckDB
      // oracle RECOMPUTES the expected decode outputs from the synthesis
      // formulas — dims, sampled-pixel channel means (exact /16 rationals),
      // and the WAV header fields must round-trip bit-exactly through the
      // actual encode → resize → decode chain. JPEG (lossy) stays exercised
      // by q195 + MultimodalSpec; the stub byte-histogram features and the
      // sine amplitude stats (libm) stay ☆ spec-verified.
      val docs = Tables.documents(s, d)
      val media = Multimodal.attachBinary(docs, "doc_id", "text")
      val metaCols = media.select(col("doc_id"),
        col("meta.kind").as("meta_kind"),
        col("meta.width").as("meta_w"), col("meta.height").as("meta_h"))
      val frames = Multimodal.frameSample(media, "doc_id", 4)
        .groupBy("doc_id").agg(count(lit(1)).as("n_video_frames"))
      val imgFeats = Multimodal.decodeImages(
        Multimodal.resizeImages(
          Multimodal.synthesizeMixedImages(docs, "doc_id", size = 8, formats = 2),
          "doc_id", 4, 4), "doc_id")
      val audioFeats = Multimodal.decodeAudio(
        Multimodal.synthesizeAudio(docs, "doc_id"), "doc_id")
        .select(col("doc_id"), col("sample_rate"), col("n_samples"),
          col("duration_ms"))
      metaCols.join(imgFeats, "doc_id").join(audioFeats, "doc_id")
        .join(frames, Seq("doc_id"), "left").orderBy("doc_id")
    })
  )

  /** q31 helper: materialize two small uploads (different delimiter +
    * encoding) into a temp dir, then run the full sniff-and-ingest path. */
  private def csvIngestDemo(spark: SparkSession): DataFrame = {
    val dir = java.nio.file.Files.createTempDirectory("graft_csv").toFile
    dir.deleteOnExit()
    val f1 = new java.io.File(dir, "upload1.csv")
    java.nio.file.Files.write(f1.toPath,
      "E-Mail;NOME;Empresa\nana@example.com;Ana;Acme\nbob@example.com;Bob;Globex\n"
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val f2 = new java.io.File(dir, "upload2.csv")
    java.nio.file.Files.write(f2.toPath,
      "email_address;Sobrenome;org\ncarol@example.com;Silva;Café Ltda\n"
        .getBytes(java.nio.charset.Charset.forName("ISO-8859-1")))
    Seq(f1, f2).foreach(_.deleteOnExit()) // after the dir, as in `entry`
    CsvIngest.ingest(spark, f1.getAbsolutePath)
      .unionByName(CsvIngest.ingest(spark, f2.getAbsolutePath), allowMissingColumns = true)
  }

  // ----------------------------------------------------------------- oracle

  /** DuckDB ground truth for the near-dup queries: ALL-PAIRS exact shingle
    * jaccard over the planted-dup corpus (mirrors `docsWithPlantedDups` and
    * `Dedup.shingles`: lowercase whitespace tokens, word 3-grams, whole-text
    * shingle for short docs, set semantics). The engine side must reach the
    * same set via LSH candidates + exact verify — so this oracle checks
    * candidate RECALL as well as verification math. Bit-exact jaccard: both
    * engines divide the same two integers as doubles. */
  /** Unrolled synchronous k-core peeling (the SQL twin of [[Graph.kCore]]):
    * `rounds` fixed peel rounds over the part–supplier bipartite graph.
    * Peeling is idempotent after fixpoint, so any rounds ≥ the actual peel
    * depth gives the exact core; GraphSpec pins the depth at sf0.01 well
    * under the unroll. */
  private def kcoreTruthSql(k: Int, rounds: Int): String = {
    // AS MATERIALIZED is load-bearing: DuckDB inlines plain CTEs, and each
    // round references the previous one three times — 3^rounds expansions
    // without it (observed as "Too many open files" before the heat death)
    val sb = new StringBuilder
    sb.append("WITH e0 AS MATERIALIZED (SELECT DISTINCT l_partkey AS a, " +
      "l_suppkey + 1000000000 AS b FROM lineitem)")
    for (i <- 0 until rounds) {
      sb.append(s""",
        |d$i AS MATERIALIZED (SELECT x, COUNT(*) AS dg
        |  FROM (SELECT a AS x FROM e$i UNION ALL SELECT b AS x FROM e$i) GROUP BY x),
        |e${i + 1} AS MATERIALIZED (SELECT e.a, e.b FROM e$i e
        |  JOIN d$i da ON da.x = e.a JOIN d$i db ON db.x = e.b
        |  WHERE da.dg >= $k AND db.dg >= $k)""".stripMargin)
    }
    sb.append(s"""
      |SELECT x AS node, CAST(COUNT(*) AS BIGINT) AS deg
      |FROM (SELECT a AS x FROM e$rounds UNION ALL SELECT b AS x FROM e$rounds)
      |GROUP BY x ORDER BY node""".stripMargin)
    sb.toString
  }

  /** All-pairs containment truth over the planted corpus — same shingle
    * recipe as [[jaccardTruthSql]], asymmetric numerator/denominator. */
  private def containmentTruthSql(threshold: String): String =
    s"""WITH docs AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 1000000 AS doc_id, text || ' planted near duplicate tail' AS text
      |  FROM documents WHERE doc_id < 20),
      |t AS (SELECT doc_id, regexp_extract_all(lower(text), '\\S+') AS toks FROM docs),
      |sh AS (
      |  SELECT doc_id,
      |    CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
      |         ELSE list_distinct([array_to_string(toks[i:i+2], ' ') for i in range(1, len(toks) - 1)])
      |    END AS s
      |  FROM t),
      |p AS (
      |  SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b,
      |    CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) / len(a.s) AS c_a_in_b,
      |    CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) / len(b.s) AS c_b_in_a
      |  FROM sh a JOIN sh b ON b.doc_id > a.doc_id)
      |SELECT doc_id_a, doc_id_b, c_a_in_b, c_b_in_a FROM p
      |WHERE c_a_in_b >= $threshold OR c_b_in_a >= $threshold
      |ORDER BY doc_id_a, doc_id_b""".stripMargin

  private def jaccardTruthSql(threshold: String): String =
    s"""WITH docs AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 1000000 AS doc_id, text || ' planted near duplicate tail' AS text
      |  FROM documents WHERE doc_id < 20),
      |t AS (SELECT doc_id, regexp_extract_all(lower(text), '\\S+') AS toks FROM docs),
      |sh AS (
      |  SELECT doc_id,
      |    CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
      |         ELSE list_distinct([array_to_string(toks[i:i+2], ' ') for i in range(1, len(toks) - 1)])
      |    END AS s
      |  FROM t),
      |p AS (
      |  SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b,
      |    CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) / len(list_distinct(a.s || b.s)) AS jaccard
      |  FROM sh a JOIN sh b ON b.doc_id > a.doc_id)
      |SELECT doc_id_a, doc_id_b, jaccard FROM p
      |WHERE jaccard >= $threshold ORDER BY doc_id_a, doc_id_b""".stripMargin

  /** DuckDB twin of graft's deterministic k-means (Similarity.kmeansAssign,
    * k=8, iters=3): init = vectors of ids 0..7, each round assigns by double
    * L2 argmin (ties → smaller cluster) and recomputes centroids as
    * decimal(38,18)-exact sums with one double division + one float rounding.
    * Both engines share every rounding path, so the three unrolled rounds
    * land on identical float centroids and identical assignments. */
  /** Unrolled-SQL twin of [[Similarity.pqTopK]] (m=4, k=8, 2 training
    * rounds, queries 100–102, top-10): the q81 recipe per BLOCK — argmin
    * assignment, exact decimal centroid means with one float rounding,
    * COALESCE fallback for empty clusters — then codes from the final
    * codebook and ADC with scale-8 fixed-point BIGINT table entries, so
    * candidate distances and ranks are exact integer comparisons in both
    * engines. */
  private val pqOracleSql: String = {
    def round(n: Int): String = {
      val prev = if (n == 1) "c0" else s"c${n - 1}f"
      s"""pa$n AS (
        |  SELECT f.vec_id, f.blk, c.cluster,
        |    SUM((CAST(f.x AS DOUBLE) - CAST(c.c AS DOUBLE)) * (CAST(f.x AS DOUBLE) - CAST(c.c AS DOUBLE))) AS d
        |  FROM fb f JOIN $prev c ON c.blk = f.blk AND c.d = f.d GROUP BY 1, 2, 3),
        |pw$n AS (
        |  SELECT vec_id, blk, cluster FROM (
        |    SELECT vec_id, blk, cluster, row_number() OVER (PARTITION BY vec_id, blk ORDER BY d, cluster) AS rk
        |    FROM pa$n) WHERE rk = 1),
        |pu$n AS (
        |  SELECT w.blk, w.cluster, f.d,
        |    CAST(CAST(SUM(CAST(round(CAST(f.x AS DOUBLE) * 1000000000) AS BIGINT)) AS DOUBLE)
        |      / CAST(COUNT(*) AS DOUBLE) / 1e9 AS FLOAT) AS c
        |  FROM pw$n w JOIN fb f ON f.vec_id = w.vec_id AND f.blk = w.blk GROUP BY 1, 2, 3),
        |c${n}f AS (
        |  SELECT p.cluster, p.blk, p.d, COALESCE(u.c, p.c) AS c
        |  FROM $prev p LEFT JOIN pu$n u ON u.blk = p.blk AND u.cluster = p.cluster AND u.d = p.d)""".stripMargin
    }
    s"""WITH v AS (
      |  SELECT vec_id, embedding FROM embeddings
      |  WHERE embedding IS NOT NULL AND len(embedding) > 0),
      |fb AS (
      |  SELECT vec_id, (CAST(u.e[2] AS INTEGER) - 1) // 16 AS blk,
      |    (CAST(u.e[2] AS INTEGER) - 1) % 16 AS d, CAST(u.e[1] AS FLOAT) AS x
      |  FROM (SELECT vec_id, unnest(list_zip(embedding, range(1, len(embedding) + 1))) AS e FROM v) u(vec_id, e)),
      |c0 AS (SELECT CAST(vec_id AS INTEGER) AS cluster, blk, d, x AS c FROM fb WHERE vec_id < 8),
      |${round(1)},
      |${round(2)},
      |ea AS (
      |  SELECT f.vec_id, f.blk, c.cluster,
      |    SUM((CAST(f.x AS DOUBLE) - CAST(c.c AS DOUBLE)) * (CAST(f.x AS DOUBLE) - CAST(c.c AS DOUBLE))) AS d
      |  FROM fb f JOIN c2f c ON c.blk = f.blk AND c.d = f.d GROUP BY 1, 2, 3),
      |enc AS (
      |  SELECT vec_id, blk, cluster FROM (
      |    SELECT vec_id, blk, cluster, row_number() OVER (PARTITION BY vec_id, blk ORDER BY d, cluster) AS rk
      |    FROM ea) WHERE rk = 1),
      |q AS (SELECT vec_id AS qid, blk, d, x FROM fb WHERE vec_id IN (100, 101, 102)),
      |tab AS (
      |  SELECT q.qid, c.blk, c.cluster,
      |    CAST(SUM(CAST((CAST(q.x AS DOUBLE) - CAST(c.c AS DOUBLE)) * (CAST(q.x AS DOUBLE) - CAST(c.c AS DOUBLE))
      |      AS DECIMAL(18,10))) * 10000000000 AS BIGINT) AS t10
      |  FROM q JOIN c2f c ON c.blk = q.blk AND c.d = q.d GROUP BY 1, 2, 3),
      |adc AS (
      |  SELECT t.qid, e.vec_id, SUM(t.t10) AS dist10
      |  FROM enc e JOIN tab t ON t.blk = e.blk AND t.cluster = e.cluster
      |  WHERE e.vec_id <> t.qid GROUP BY 1, 2),
      |r AS (SELECT qid, vec_id, dist10,
      |    row_number() OVER (PARTITION BY qid ORDER BY dist10, vec_id) AS rank FROM adc)
      |SELECT CAST(qid AS BIGINT) AS query_id, CAST(rank AS INTEGER) AS rank,
      |  CAST(vec_id AS BIGINT) AS neighbor_id, CAST(dist10 AS DOUBLE) / 1e10 AS adc_dist
      |FROM r WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin
  }

  /** DuckDB twin of [[graft.functions.Cols.soundexCode]] blocking: the
    * identical translate / replace-chain / substring pipeline (the run
    * collapse is 4 halving literal replaces per digit, generated by the
    * same loop as the Column chain). */
  private val soundexOracleSql: String = {
    val collapse = (1 to 6).foldLeft("coded")((acc, d) =>
      (1 to 4).foldLeft(acc)((a, _) => s"replace($a, '$d$d', '$d')"))
    s"""WITH base AS (SELECT p_name AS name FROM part GROUP BY p_name),
      |fl AS (SELECT name, regexp_replace(upper(name), '[^A-Z]', '', 'g') AS letters
      |  FROM base WHERE length(trim(name)) > 0),
      |cd AS (SELECT name, letters,
      |    translate(letters, 'AEIOUYHWBFPVCGJKQSXZDTLMNR', '00000000111122222222334556') AS coded
      |  FROM fl),
      |cl AS (SELECT name, letters, $collapse AS collapsed FROM cd),
      |sx AS (SELECT name, concat(substring(letters, 1, 1),
      |    rpad(substring(replace(substring(collapsed, 2, 1000), '0', ''), 1, 3), 3, '0')) AS code
      |  FROM cl)
      |SELECT code, COUNT(*) AS n_records, COUNT(DISTINCT name) AS n_spellings,
      |  MIN(name) AS sample_name
      |FROM sx GROUP BY code HAVING COUNT(*) >= 2 ORDER BY code""".stripMargin
  }

  private val kmeansOracleSql: String = {
    def round(n: Int): String = {
      val prev = if (n == 1) "c0" else s"c${n - 1}f"
      s"""d$n AS (
        |  SELECT f.vec_id, c.cluster,
        |    SUM((CAST(f.x AS DOUBLE) - CAST(c.c AS DOUBLE)) * (CAST(f.x AS DOUBLE) - CAST(c.c AS DOUBLE))) AS d
        |  FROM f JOIN $prev c USING (dim) GROUP BY 1, 2),
        |a$n AS (
        |  SELECT vec_id, cluster FROM (
        |    SELECT vec_id, cluster, row_number() OVER (PARTITION BY vec_id ORDER BY d, cluster) AS rk
        |    FROM d$n) WHERE rk = 1),
        |u$n AS (
        |  SELECT a.cluster, f.dim,
        |    CAST(CAST(SUM(CAST(f.x AS DECIMAL(38,18))) AS DOUBLE) / COUNT(*) AS FLOAT) AS c
        |  FROM a$n a JOIN f USING (vec_id) GROUP BY 1, 2),
        |c${n}f AS (
        |  SELECT p.cluster, p.dim, COALESCE(u.c, p.c) AS c
        |  FROM $prev p LEFT JOIN u$n u USING (cluster, dim))""".stripMargin
    }
    s"""WITH v AS (
      |  SELECT vec_id, embedding FROM embeddings
      |  WHERE embedding IS NOT NULL AND len(embedding) > 0),
      |f AS (
      |  SELECT vec_id, CAST(u.e[2] AS INTEGER) AS dim, CAST(u.e[1] AS FLOAT) AS x
      |  FROM (SELECT vec_id, unnest(list_zip(embedding, range(1, len(embedding) + 1))) AS e FROM v) u(vec_id, e)),
      |c0 AS (SELECT CAST(vec_id AS INTEGER) AS cluster, dim, x AS c FROM f WHERE vec_id < 8),
      |${round(1)},
      |${round(2)},
      |${round(3)},
      |dF AS (
      |  SELECT f.vec_id, c.cluster,
      |    SUM((CAST(f.x AS DOUBLE) - CAST(c.c AS DOUBLE)) * (CAST(f.x AS DOUBLE) - CAST(c.c AS DOUBLE))) AS d
      |  FROM f JOIN c3f c USING (dim) GROUP BY 1, 2),
      |aF AS (
      |  SELECT vec_id, cluster FROM (
      |    SELECT vec_id, cluster, row_number() OVER (PARTITION BY vec_id ORDER BY d, cluster) AS rk
      |    FROM dF) WHERE rk = 1)
      |SELECT CAST(cluster AS INTEGER) AS cluster, COUNT(*) AS n_members
      |FROM aF GROUP BY cluster ORDER BY cluster""".stripMargin
  }

  /** q237 constant-table oracle (the q34 exact-synthesis trick): the 64
    * pattern texts are pure functions of doc_id % 64, and DEFLATE at a
    * fixed level is deterministic, so the expected byte counts are computed
    * ONCE here — in the same JVM/zlib the executors use — and pinned as a
    * VALUES table DuckDB merely joins and echoes. The ratio constant
    * mirrors the engine's exact chain: long/long double division, then a
    * decimal(18,6) HALF_UP quantize, then back to double. */
  private def compressionOracleSql: String = {
    val rows = (0 until 64).map { k =>
      val in = operators.TextAnalysis.compressionPatternText(k).getBytes("UTF-8")
      val out = operators.TextAnalysis.deflatedLength(in)
      // valueOf (Double.toString shortest repr), NOT new BigDecimal(double)
      // (exact binary expansion): Spark's cast(decimal(18,6)) quantizes the
      // shortest repr, and the two constructions diverge on 7th-decimal
      // ties — the oracle must round the SAME representation the engine does
      val ratio = java.math.BigDecimal.valueOf(out.toDouble / in.length.toDouble)
        .setScale(6, java.math.RoundingMode.HALF_UP).toPlainString
      s"($k, ${in.length}, $out, $ratio)"
    }.mkString(", ")
    s"""WITH exp(k, n_bytes, n_deflated, ratio) AS (VALUES $rows)
       |SELECT d.doc_id, CAST(e.n_bytes AS BIGINT) AS n_bytes,
       |  CAST(e.n_deflated AS BIGINT) AS n_deflated,
       |  CAST(e.ratio AS DOUBLE) AS ratio
       |FROM documents d JOIN exp e ON d.doc_id % 64 = e.k
       |ORDER BY d.doc_id""".stripMargin
  }

  /** q195 constant-table oracle: a doc's dHash is a pure function of its
    * (pattern, format) combo — pattern = doc_id % 40, container =
    * (doc_id / 40) % 3 — so the 120 combo hashes are computed ONCE here
    * through the REAL encode→decode→dHash chain (same codecs as the
    * executors), the admissible combo pairs (Hamming ≤ 2) become a VALUES
    * table, and the expected pair list is a documents⨝documents join DuckDB
    * recomputes. Recall is exact: the banded join's pigeonhole guarantee
    * (3 chunks, ≤2 differing bits ⇒ ≥1 intact chunk) plus a bucket cap
    * that cannot bind below 1000 docs per chunk value. Both orientations
    * of each combo pair are emitted so the a.doc_id < b.doc_id join needs
    * no orientation logic. */
  private def imageNearDupOracleSql: String = {
    val combos = for (f <- 0 until 3; k <- 0 until 40) yield {
      val h = operators.Multimodal.dHash64(
        operators.Multimodal.mixedImageBytes(k + 40L * f)).getOrElse(
        throw new IllegalStateException(s"synthesized image (k=$k,f=$f) failed to decode"))
      (k, f, h)
    }
    val adm = for {
      (k1, f1, h1) <- combos
      (k2, f2, h2) <- combos
      d = java.lang.Long.bitCount(h1 ^ h2)
      if d <= 2
    } yield s"($k1,$f1,$k2,$f2,$d)"
    s"""WITH adm(k1, f1, k2, f2, ham) AS (VALUES ${adm.mkString(",")}),
       |d AS (SELECT doc_id, doc_id % 40 AS k, (doc_id // 40) % 3 AS f FROM documents)
       |SELECT a.doc_id AS id_a, b.doc_id AS id_b, CAST(adm.ham AS INTEGER) AS hamming
       |FROM d a JOIN d b ON a.doc_id < b.doc_id
       |JOIN adm ON adm.k1 = a.k AND adm.f1 = a.f AND adm.k2 = b.k AND adm.f2 = b.f
       |ORDER BY id_a, id_b""".stripMargin
  }

  /** q221/q222 constant-table oracles (round 10: `no_oracle` → 0). The BPE
    * training loop is deterministic — ties break (count desc, pair asc) by
    * contract — so its outputs are pure functions of the corpus; what kept
    * the pair ☆ for nine rounds is only that the greedy re-segmentation
    * has no SQL twin. The q237/q34 trick closes it: an INDEPENDENT
    * sequential textbook BPE (below — list-of-symbols merges applied in
    * rank order per Sennrich et al. 2016's reference learn_bpe/apply_bpe,
    * sharing NO code with Curation's distributed trainer) trains on the
    * same corpus at oracle-dump time, and DuckDB gets:
    *   - q221: the learned merge table pinned as a VALUES constant;
    *   - q222: a word → subword-count VALUES table (the trained tokenizer,
    *     which IS a pure per-word function) — DuckDB then RE-COMPUTES the
    *     per-doc tokenize/join/sum itself; only the final
    *     decimal(18,4)-quantized ratio is pinned per distinct
    *     (n_subwords, n_chars) sum pair, because Spark quantizes the
    *     double's shortest decimal repr (BigDecimal.valueOf) and no DuckDB
    *     expression is contractually bit-identical on repr-vs-binary ties.
    * Independence is what makes this an oracle rather than a mirror: word
    * counting, pair counting, tie-breaking, and merge application are all
    * re-derived here from the paper's sequential algorithm in a different
    * code shape (immutable lists + rank-order merge application vs the
    * engine's per-round distributed re-segmentation under a rank map).
    * Corpus: the verify run's SF dir (graft.sfDir system property, set by
    * [[Verify]]) read through the already-active session.
    *
    * `BpeMerges` is the ONE trained-merge count shared by the q221/q222
    * registrations and this oracle precompute — a drift between
    * registration and oracle literals would otherwise surface only as a
    * confusing downstream verify mismatch (the Dedup.Lsh* rule, applied
    * here too). */
  private[graft] val BpeMerges = 8

  private[graft] def bpeSequentialReference(texts: Iterable[String], nMerges: Int)
      : (List[(String, String, Long)], Map[String, Int]) = {
    val tokRe = java.util.regex.Pattern.compile("[a-z0-9]+")
    val wordCount = scala.collection.mutable.LinkedHashMap.empty[String, Long]
    texts.foreach { t =>
      val m = tokRe.matcher(Option(t).getOrElse("").toLowerCase(java.util.Locale.ROOT))
      while (m.find()) {
        val w = m.group()
        wordCount.update(w, wordCount.getOrElse(w, 0L) + 1L)
      }
    }
    // trainable vocabulary: words of ≥2 chars, each as a symbol list
    var segs: List[(List[String], Long)] = wordCount.iterator
      .filter(_._1.length >= 2)
      .map { case (w, c) => (w.map(_.toString).toList, c) }.toList
    // iterative (not recursive) left-to-right pass: a per-symbol recursion
    // would put word length on the JVM stack, and one pathological unbroken
    // [a-z0-9]+ run of ~10k+ chars is enough to StackOverflow the oracle
    // precompute — mirror segmentGreedy's while-loop shape instead
    def mergeOnce(s: List[String], a: String, b: String): List[String] = {
      val out = scala.collection.mutable.ListBuffer.empty[String]
      var rest = s
      while (rest.nonEmpty) {
        rest match {
          case x :: y :: tail if x == a && y == b => out += (a + b); rest = tail
          case x :: tail => out += x; rest = tail
          case Nil => ()
        }
      }
      out.toList
    }
    var merges = List.empty[(String, String, Long)]
    var round = 0
    var exhausted = false
    while (round < nMerges && !exhausted) {
      val pairCount = scala.collection.mutable.HashMap.empty[(String, String), Long]
      segs.foreach { case (syms, c) =>
        syms.zip(syms.tail).foreach { p =>
          pairCount.update(p, pairCount.getOrElse(p, 0L) + c)
        }
      }
      if (pairCount.isEmpty) exhausted = true
      else {
        val ((a, b), n) = pairCount.minBy { case ((x, y), c) => (-c, x, y) }
        // the rank-order-application lemma (scaladoc on `ns` below) holds
        // only while no merge OUTPUT collides with a symbol string that
        // already exists (e.g. (a,bc) and (ab,c) both yielding "abc") —
        // the exact hazard bpeTrainBatched's fresh-output cut guards. A
        // collision would otherwise surface only as a confusing downstream
        // verify mismatch, so make it loudly diagnosable at the source.
        val existing = segs.iterator.flatMap(_._1).toSet
        if (existing.contains(a + b))
          System.err.println(s"[bpe-oracle] WARNING: merge output '${a + b}' " +
            s"(round $round) collides with an existing symbol — the " +
            "rank-order-application lemma may not hold; q221/q222 verify " +
            "mismatches on this corpus trace here")
        merges = (a, b, n) :: merges
        segs = segs.map { case (syms, c) => (mergeOnce(syms, a, b), c) }
      }
      round += 1
    }
    // the trained tokenizer as a pure word → n_subwords map: the final
    // training segmentation IS rank-order application of the merge list
    // (merges never re-create a pair of two pre-existing symbols, so each
    // rule's occurrences are exhausted exactly once, in rank order — the
    // same order segmentGreedy's lowest-rank-first loop visits them)
    val ns = segs.map { case (syms, _) => (syms.mkString, syms.length) }.toMap
    (merges.reverse, wordCount.keysIterator
      .map(w => w -> (if (w.length >= 2) ns(w) else 1)).toMap)
  }

  /** The verify corpus + the trained reference tokenizer, computed once —
    * q221 and q222's oracle SQL both derive from it. */
  private lazy val bpeOracleParts: (List[(String, String, Long)], Map[String, Int], Seq[(Long, Long, String)]) = {
    // fail fast rather than fall back: Verify always sets graft.sfDir
    // before the oracle dump, and a silent default would pin q221/q222
    // VALUES constants trained on the WRONG corpus — surfacing only as an
    // unexplained verify mismatch far downstream
    val sfDir = sys.props.getOrElse("graft.sfDir", sys.error(
      "graft.sfDir is unset: bpeOracleParts trains q221/q222 oracle " +
        "constants on the verify corpus and must not guess the SF dir — " +
        "set -Dgraft.sfDir=<sf dir> (Verify.main does this) before " +
        "touching oracleSql"))
    val spark = org.apache.spark.sql.SparkSession.active
    val texts = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("text").collect().map(r => Option(r.getString(0)).getOrElse("")).toSeq
    val (merges, wordNs) = bpeSequentialReference(texts, nMerges = BpeMerges)
    // distinct doc-level (n_subwords, n_chars) sums → the engine's exact
    // ratio chain: long/long double division, decimal(18,4) HALF_UP
    // quantize of the shortest repr, back to double (the q237 rule)
    val tokRe = java.util.regex.Pattern.compile("[a-z0-9]+")
    val ratios = texts.map { t =>
      val m = tokRe.matcher(t.toLowerCase(java.util.Locale.ROOT))
      var nSub = 0L; var nChars = 0L
      while (m.find()) { nSub += wordNs(m.group()); nChars += m.group().length }
      (nSub, nChars)
    }.distinct.filter(_._1 > 0).map { case (nSub, nChars) =>
      (nSub, nChars, java.math.BigDecimal.valueOf(nChars.toDouble / nSub.toDouble)
        .setScale(4, java.math.RoundingMode.HALF_UP).toPlainString)
    }
    (merges, wordNs, ratios)
  }

  private def sq(s: String): String = "'" + s.replace("'", "''") + "'"

  /** Degenerate-corpus guard for the VALUES constants below: an empty row
    * list would render `(VALUES )` — a cryptic DuckDB syntax error instead
    * of an honest empty table. A corpus with no trainable words (or no
    * tokens at all) is out of any current SF's regime, but the oracle must
    * DEGRADE to empty tables that still join/echo correctly, matching the
    * engine's own empty outputs, not break the whole verify dump. */
  private def valuesOrEmpty(rows: Seq[String], emptyShape: String): String =
    if (rows.isEmpty) emptyShape else rows.mkString(", ")

  private def bpeTrainOracleSql: String = bpeTrainSqlFor(bpeOracleParts._1)

  private[graft] def bpeTrainSqlFor(merges: List[(String, String, Long)]): String = {
    val rows = merges.zipWithIndex.map { case ((a, b, n), i) =>
      s"(${i + 1}, ${sq(a)}, ${sq(b)}, $n)"
    }
    if (rows.isEmpty)
      // zero learnable merges: echo the engine's empty (rank, l, r, c) frame
      return """SELECT CAST(NULL AS INTEGER) AS "rank", CAST(NULL AS VARCHAR) AS left_sym,
               |  CAST(NULL AS VARCHAR) AS right_sym, CAST(NULL AS BIGINT) AS pair_count
               |WHERE 1 = 0""".stripMargin
    s"""SELECT CAST("rank" AS INTEGER) AS "rank", left_sym, right_sym,
       |  CAST(pair_count AS BIGINT) AS pair_count
       |FROM (VALUES ${rows.mkString(", ")}) AS t("rank", left_sym, right_sym, pair_count)
       |ORDER BY "rank"""".stripMargin
  }

  private def bpeSubwordsOracleSql: String = {
    val (_, wordNs, ratios) = bpeOracleParts
    bpeSubwordsSqlFor(wordNs, ratios)
  }

  private[graft] def bpeSubwordsSqlFor(wordNs: Map[String, Int],
                                       ratios: Seq[(Long, Long, String)]): String = {
    val segRows = valuesOrEmpty(
      wordNs.toSeq.sorted.map { case (w, n) => s"(${sq(w)}, $n)" },
      "('', 0)") // never matches a [a-z0-9]+ token — an effectively empty map
    val ratRows = valuesOrEmpty(
      ratios.sorted.map { case (ns, nc, r) => s"($ns, $nc, $r)" },
      "(-1, -1, 0.0)") // ns is never -1 — an effectively empty map
    s"""WITH seg(w, ns) AS (VALUES $segRows),
       |rat(ns, nc, ratio) AS (VALUES $ratRows),
       |toks AS (SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS w
       |         FROM documents),
       |agg AS (SELECT t.doc_id, CAST(SUM(s.ns) AS BIGINT) AS ns,
       |          CAST(SUM(length(t.w)) AS BIGINT) AS nc
       |        FROM toks t JOIN seg s ON s.w = t.w GROUP BY t.doc_id)
       |SELECT CAST(d.doc_id AS BIGINT) AS doc_id,
       |  COALESCE(a.ns, 0) AS n_subwords,
       |  COALESCE(a.nc, 0) AS n_chars_alnum,
       |  CAST(r.ratio AS DOUBLE) AS chars_per_subword
       |FROM documents d
       |LEFT JOIN agg a ON a.doc_id = d.doc_id
       |LEFT JOIN rat r ON r.ns = a.ns AND r.nc = a.nc
       |ORDER BY doc_id""".stripMargin
  }

  /** Corpus-dependent oracle entries, kept OUT of the literal map so their
    * precompute (a driver-side corpus collect + the reference BPE training)
    * only runs when the entry is actually requested — a SPARK_GRAFT_ONLY
    * single-query Verify iteration should not pay for oracles it never
    * compares. */
  private val corpusTrainedOracles: Seq[(String, () => String)] = Seq(
    "q221_bpe_train" -> (() => bpeTrainOracleSql),
    "q222_bpe_subwords" -> (() => bpeSubwordsOracleSql))

  /** The driver's contract: every oracle entry, fully materialized. */
  def oracleSql: Map[String, String] = oracleSqlFiltered(_ => true)

  /** [[oracleSql]] restricted to names passing `pred`, skipping the
    * corpus-trained precomputes for filtered-out entries. */
  def oracleSqlFiltered(pred: String => Boolean): Map[String, String] =
    oracleSqlBase.filter(kv => pred(kv._1)) ++
      corpusTrainedOracles.collect { case (k, f) if pred(k) => k -> f() }

  private def oracleSqlBase: Map[String, String] = Map(
    "q237_compression" -> compressionOracleSql,
    "q195_image_neardups" -> imageNearDupOracleSql,
    "q81_kmeans" -> kmeansOracleSql,
    "q310_pq" -> pqOracleSql,
    "q314_soundex_blocks" -> soundexOracleSql,
    "q24_minhash_lsh" -> jaccardTruthSql("0.5"),
    "q26_ngram_jaccard" -> jaccardTruthSql("0.3"),
    "q25_simhash" ->
      // all-pairs truth over md5-token simhash signatures (the engine's
      // banded pigeonhole join must find exactly these): token hash =
      // md5_number_upper = first 8 md5 bytes little-endian, matching
      // Dedup.simhashMd5 bit for bit; signature kept as two 32-bit halves
      // so bit_count(xor()) never touches the BIGINT sign bit
      """WITH docs AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000 AS doc_id, text || ' planted near duplicate tail' AS text
        |  FROM documents WHERE doc_id < 20),
        |tok AS (SELECT doc_id, unnest(regexp_extract_all(lower(text), '\S+')) AS tok FROM docs),
        |th AS (SELECT doc_id, md5_number_upper(tok) AS h FROM tok),
        |bits AS (SELECT doc_id, b,
        |    COUNT(CASE WHEN (h >> b) & 1 = 1 THEN 1 END)
        |      - COUNT(CASE WHEN (h >> b) & 1 = 0 THEN 1 END) AS acc
        |  FROM th CROSS JOIN (SELECT unnest(range(64)) AS b) GROUP BY 1, 2),
        |sig AS (SELECT d.doc_id,
        |    COALESCE((SELECT CAST(SUM(1::BIGINT << b) AS BIGINT) FROM bits
        |      WHERE bits.doc_id = d.doc_id AND b < 32 AND acc > 0), 0) AS s1,
        |    COALESCE((SELECT CAST(SUM(1::BIGINT << (b - 32)) AS BIGINT) FROM bits
        |      WHERE bits.doc_id = d.doc_id AND b >= 32 AND acc > 0), 0) AS s2
        |  FROM docs d)
        |SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b,
        |  CAST(bit_count(xor(a.s1, b.s1)) + bit_count(xor(a.s2, b.s2)) AS INTEGER) AS hamming
        |FROM sig a JOIN sig b ON b.doc_id > a.doc_id
        |WHERE bit_count(xor(a.s1, b.s1)) + bit_count(xor(a.s2, b.s2)) <= 3
        |ORDER BY doc_id_a, doc_id_b""".stripMargin,
    "q39_approx_stats" ->
      // exact-regime twin: HLL coupon mode ⇒ estimate = count(distinct);
      // GK rank error < 1/2 ⇒ the returned element is the true lower median
      """SELECT event_type,
        |  COUNT(DISTINCT user_id) AS approx_users,
        |  quantile_disc(value, 0.5) AS approx_p50_value
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q61_mg_heavy_hitters" ->
      // exact-regime twin (k-1 counters > distinct types ⇒ no evictions):
      // the Misra-Gries summary is the plain contingency table
      """SELECT user_id % 10 AS bucket, event_type, COUNT(*) AS cnt
        |FROM events GROUP BY 1, 2 ORDER BY bucket, event_type""".stripMargin,
    "q200_join_overlap" ->
      // coupon-exact regime: every estimate equals its exact distinct
      // count, so inclusion-exclusion is checkable end to end
      """WITH a AS (SELECT COUNT(DISTINCT user_id) AS est_a FROM events WHERE event_type = 'purchase'),
        |b AS (SELECT COUNT(DISTINCT user_id) AS est_b FROM events WHERE event_type = 'view'),
        |u AS (SELECT COUNT(DISTINCT user_id) AS est_union FROM events WHERE event_type IN ('purchase', 'view'))
        |SELECT est_a, est_b, est_union,
        |  GREATEST(0, LEAST(est_a, est_b, est_a + est_b - est_union)) AS est_intersection
        |FROM a CROSS JOIN b CROSS JOIN u""".stripMargin,
    "q28_ann_lsh" ->
      """SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
        | CAST(row_number() OVER (PARTITION BY a.vec_id
        |   ORDER BY list_cosine_similarity(a.embedding, b.embedding) DESC, b.vec_id) AS INTEGER) AS rank
        |FROM embeddings a JOIN embeddings b ON b.vec_id <> a.vec_id
        |WHERE a.vec_id IN (0, 1, 2, 3, 4)
        |QUALIFY rank <= 5
        |ORDER BY query_id, rank""".stripMargin,
    "q54_ann_ivf" ->
      """SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
        | CAST(row_number() OVER (PARTITION BY a.vec_id
        |   ORDER BY list_cosine_similarity(a.embedding, b.embedding) DESC, b.vec_id) AS INTEGER) AS rank
        |FROM embeddings a JOIN embeddings b ON b.vec_id <> a.vec_id
        |WHERE a.vec_id IN (100, 101, 102, 103, 104)
        |QUALIFY rank <= 5
        |ORDER BY query_id, rank""".stripMargin,
    "q30_near_dup_cosine" ->
      """WITH vecs AS (
        |  SELECT vec_id, embedding FROM embeddings
        |  UNION ALL
        |  SELECT vec_id + 1000000 AS vec_id, embedding FROM embeddings WHERE vec_id < 10)
        |SELECT a.vec_id AS vec_id_a, b.vec_id AS vec_id_b
        |FROM vecs a JOIN vecs b ON b.vec_id > a.vec_id
        |WHERE list_cosine_similarity(a.embedding, b.embedding) >= 0.95
        |ORDER BY vec_id_a, vec_id_b""".stripMargin,
    "q01_jobs_by_user" ->
      "SELECT * FROM orders WHERE o_custkey = 7 ORDER BY o_orderdate DESC, o_orderkey DESC",
    "q86_jobs_by_user_req" ->
      """SELECT * FROM orders WHERE o_custkey = 7 AND o_orderpriority = '1-URGENT'
        |ORDER BY o_orderdate DESC, o_orderkey DESC""".stripMargin,
    "q89_hll_merge" ->
      """SELECT event_type, COUNT(DISTINCT user_id) AS approx_distinct
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q34_multimodal" ->
      // the decode chain's expected outputs RECOMPUTED from the synthesis
      // formulas (every payload is a pure function of doc_id): pattern
      // channel means over the 4×4 nearest-neighbor sample grid of the 8×8
      // image (sampled pixels (2x,2y), sums /16 — exact dyadic rationals),
      // constant dims / WAV header fields, attachBinary meta arithmetic,
      // and 4 frame samples for video-kind rows
      """WITH grid AS (SELECT a.x AS x, b.y AS y
        |  FROM (SELECT unnest([0,2,4,6]) AS x) a
        |  CROSS JOIN (SELECT unnest([0,2,4,6]) AS y) b),
        |k AS (SELECT doc_id, doc_id % 40 AS k FROM documents),
        |m AS (SELECT doc_id,
        |    CAST(SUM((x * (k + 3)) % 256) AS DOUBLE) / 16 AS mean_r,
        |    CAST(SUM((y * (k + 5)) % 256) AS DOUBLE) / 16 AS mean_g,
        |    CAST(SUM(((x + y) * (k + 7)) % 256) AS DOUBLE) / 16 AS mean_b
        |  FROM k CROSS JOIN grid GROUP BY doc_id)
        |SELECT m.doc_id,
        |  CASE m.doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS meta_kind,
        |  CAST(m.doc_id % 640 + 16 AS INTEGER) AS meta_w,
        |  CAST(m.doc_id % 480 + 16 AS INTEGER) AS meta_h,
        |  CAST(4 AS INTEGER) AS width, CAST(4 AS INTEGER) AS height,
        |  mean_r, mean_g, mean_b,
        |  CAST(8000 AS INTEGER) AS sample_rate, CAST(800 AS INTEGER) AS n_samples,
        |  CAST(100 AS BIGINT) AS duration_ms,
        |  CASE WHEN m.doc_id % 3 = 2 THEN CAST(4 AS BIGINT) END AS n_video_frames
        |FROM m ORDER BY doc_id""".stripMargin,
    "q356_kll_quantiles" ->
      // exact-regime twin (the q89 coupon-mode argument): at k=65535 the
      // sketch never compacts at driver SFs (n ≤ k ⇒ every item retained,
      // no coin flips), so each INCLUSIVE quantile is exactly the
      // ceil(p·n)-th order statistic — pure integer rank math both sides
      // ((num·n + 99) // 100 = ceil(num·n/100)), value picked not computed
      """WITH v AS (SELECT value AS x FROM events WHERE value IS NOT NULL),
        |n AS (SELECT COUNT(*) AS cnt FROM v),
        |r AS (SELECT x, row_number() OVER (ORDER BY x) AS rk FROM v),
        |p AS (SELECT CAST(col0 AS DOUBLE) AS p, col1 AS num
        |      FROM (VALUES (0.1, 10), (0.5, 50), (0.9, 90), (0.99, 99)) t(col0, col1))
        |SELECT p.p AS p, r.x AS estimate, n.cnt AS n
        |FROM p CROSS JOIN n JOIN r ON r.rk = (p.num * n.cnt + 99) // 100
        |ORDER BY p""".stripMargin,
    "q357_theta_setops" ->
      // exact-regime twin: below the 4096-entry nominal capacity theta
      // keeps every hash (theta = 1), so each set-op estimate EQUALS the
      // exact distinct cardinality (whole-number doubles both sides)
      """WITH a AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'view' AND user_id IS NOT NULL),
        |b AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase' AND user_id IS NOT NULL)
        |SELECT CAST((SELECT COUNT(*) FROM a) AS DOUBLE) AS est_a,
        |  CAST((SELECT COUNT(*) FROM b) AS DOUBLE) AS est_b,
        |  CAST((SELECT COUNT(*) FROM (SELECT user_id FROM a INTERSECT SELECT user_id FROM b)) AS DOUBLE) AS est_intersection,
        |  CAST((SELECT COUNT(*) FROM (SELECT user_id FROM a UNION SELECT user_id FROM b)) AS DOUBLE) AS est_union,
        |  CAST((SELECT COUNT(*) FROM (SELECT user_id FROM a EXCEPT SELECT user_id FROM b)) AS DOUBLE) AS est_a_not_b""".stripMargin,
    "q90_global_seq" ->
      """SELECT doc_id, source, CAST(row_number() OVER (ORDER BY source, doc_id) AS BIGINT) AS seq
        |FROM documents ORDER BY seq""".stripMargin,
    "q91_rolling_window" ->
      // numeric RANGE frame over epoch seconds on BOTH engines (an INTERVAL
      // frame in DuckDB would include the exact -7d boundary point that
      // Spark's rangeBetween(-(secs-1), 0) excludes)
      """WITH e AS (SELECT user_id, event_id, CAST(floor(epoch(ts)) AS BIGINT) AS sec,
        |                  CAST(value AS DECIMAL(18,2)) AS v FROM events)
        |SELECT user_id, event_id,
        |  CAST(CAST(SUM(v) OVER (PARTITION BY user_id ORDER BY sec
        |         RANGE BETWEEN 604799 PRECEDING AND CURRENT ROW) AS DECIMAL(18,2)) AS DOUBLE) AS rolling_value
        |FROM e ORDER BY user_id, event_id""".stripMargin,
    "q92_chi_square" ->
      """WITH o AS (SELECT o_orderstatus AS a, o_orderpriority AS b, COUNT(*) AS o FROM orders GROUP BY 1, 2),
        |ra AS (SELECT a, CAST(SUM(o) AS BIGINT) AS ra FROM o GROUP BY a),
        |cb AS (SELECT b, CAST(SUM(o) AS BIGINT) AS cb FROM o GROUP BY b),
        |n AS (SELECT CAST(SUM(o) AS BIGINT) AS n, CAST(COUNT(DISTINCT a) AS BIGINT) AS ka,
        |             CAST(COUNT(DISTINCT b) AS BIGINT) AS kb FROM o),
        |cells AS (SELECT ra.a, ra.ra, cb.b, cb.cb, COALESCE(o.o, 0) AS o
        |          FROM ra CROSS JOIN cb LEFT JOIN o USING (a, b)),
        |t AS (SELECT CAST((CAST(c.o AS DOUBLE) - CAST(c.ra * c.cb AS DOUBLE) / n.n)
        |           * (CAST(c.o AS DOUBLE) - CAST(c.ra * c.cb AS DOUBLE) / n.n)
        |           / (CAST(c.ra * c.cb AS DOUBLE) / n.n) AS DECIMAL(28,10)) AS t,
        |           n.n, n.ka, n.kb
        |      FROM cells c CROSS JOIN n)
        |SELECT n AS n_rows, (ka - 1) * (kb - 1) AS dof, CAST(SUM(t) AS DOUBLE) AS chi2
        |FROM t GROUP BY n, ka, kb""".stripMargin,
    "q93_mad" ->
      """WITH m AS (SELECT event_type, quantile_cont(value, 0.5) AS med FROM events GROUP BY 1)
        |SELECT e.event_type,
        |  CAST(CAST(MAX(m.med) AS DECIMAL(18,4)) AS DOUBLE) AS median,
        |  CAST(CAST(quantile_cont(abs(e.value - m.med), 0.5) AS DECIMAL(18,4)) AS DOUBLE) AS mad,
        |  COUNT(*) AS n_rows
        |FROM events e JOIN m USING (event_type)
        |GROUP BY e.event_type ORDER BY e.event_type""".stripMargin,
    "q94_equidepth" ->
      // interpolated quantiles land strictly between adjacent order
      // statistics, so sub-ulp engine FP differences cannot re-bin a row;
      // bin_lo is quantized through DECIMAL(18,4) like q93's medians
      """WITH e AS (SELECT quantile_cont(o_totalprice,
        |             [1.0/7, 2.0/7, 3.0/7, 4.0/7, 5.0/7, 6.0/7]) AS edges FROM orders),
        |b AS (SELECT CAST(o_totalprice > edges[1] AS INT) + CAST(o_totalprice > edges[2] AS INT)
        |           + CAST(o_totalprice > edges[3] AS INT) + CAST(o_totalprice > edges[4] AS INT)
        |           + CAST(o_totalprice > edges[5] AS INT) + CAST(o_totalprice > edges[6] AS INT) AS bin,
        |           edges
        |      FROM orders CROSS JOIN e)
        |SELECT bin,
        |  CASE WHEN bin = 0 THEN NULL
        |       ELSE CAST(CAST(ANY_VALUE(edges)[bin] AS DECIMAL(18,4)) AS DOUBLE) END AS bin_lo,
        |  COUNT(*) AS n_rows
        |FROM b GROUP BY bin ORDER BY bin""".stripMargin,
    "q95_temperature_sample" ->
      // sqrt (not pow) on both sides: IEEE requires sqrt correctly rounded,
      // so weights are bit-equal; the weight sum is order-independent via
      // DECIMAL(28,9); one double division + floor happens last
      """WITH c AS (SELECT lang, COUNT(*) AS n_docs FROM documents GROUP BY lang),
        |w AS (SELECT lang, n_docs, sqrt(CAST(n_docs AS DOUBLE)) AS w FROM c),
        |s AS (SELECT CAST(SUM(CAST(w AS DECIMAL(28,9))) AS DOUBLE) AS sum_w FROM w),
        |q AS (SELECT lang, n_docs, CAST(floor(200.0 * w / sum_w) AS BIGINT) AS target
        |      FROM w CROSS JOIN s),
        |r AS (SELECT lang, doc_id, row_number() OVER (PARTITION BY lang
        |        ORDER BY substring(md5(CAST(doc_id AS VARCHAR)), 1, 2), doc_id) AS rk
        |      FROM documents),
        |k AS (SELECT r.lang, COUNT(*) AS n_kept FROM r JOIN q USING (lang)
        |      WHERE r.rk <= q.target GROUP BY r.lang)
        |SELECT q.lang, q.n_docs, q.target, COALESCE(k.n_kept, 0) AS n_kept
        |FROM q LEFT JOIN k USING (lang) ORDER BY q.lang""".stripMargin,
    "q96_retention" ->
      """WITH a AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
        |c AS (SELECT user_id, MIN(day) AS cohort_day FROM a GROUP BY user_id)
        |SELECT strftime(c.cohort_day, '%Y-%m-%d') AS cohort_day,
        |  datediff('day', c.cohort_day, a.day) AS day_offset,
        |  COUNT(*) AS n_users
        |FROM a JOIN c USING (user_id)
        |WHERE datediff('day', c.cohort_day, a.day) IN (0, 1, 3, 7)
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q97_bm25" ->
      // per-term scores are one fixed chain of IEEE double ops (single ln),
      // summed as the same left-assoc expression tree as the Spark side,
      // then quantized DECIMAL(18,6) — bit-equal across engines
      """WITH t AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS toks FROM documents),
        |d AS (SELECT doc_id, len(toks) AS dl,
        |        len(list_filter(toks, x -> x = 'spark')) AS tf0,
        |        len(list_filter(toks, x -> x = 'join')) AS tf1,
        |        len(list_filter(toks, x -> x = 'window')) AS tf2
        |      FROM t),
        |g AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n,
        |        CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl,
        |        CAST(COUNT(CASE WHEN tf0 > 0 THEN 1 END) AS DOUBLE) AS df0,
        |        CAST(COUNT(CASE WHEN tf1 > 0 THEN 1 END) AS DOUBLE) AS df1,
        |        CAST(COUNT(CASE WHEN tf2 > 0 THEN 1 END) AS DOUBLE) AS df2
        |      FROM d)
        |SELECT doc_id, CAST(CAST(
        |    ln((n - df0 + 0.5) / (df0 + 0.5) + 1.0) * (CAST(tf0 AS DOUBLE) * 2.2) / (CAST(tf0 AS DOUBLE) + 1.2 * (0.25 + 0.75 * dl / avgdl))
        |  + ln((n - df1 + 0.5) / (df1 + 0.5) + 1.0) * (CAST(tf1 AS DOUBLE) * 2.2) / (CAST(tf1 AS DOUBLE) + 1.2 * (0.25 + 0.75 * dl / avgdl))
        |  + ln((n - df2 + 0.5) / (df2 + 0.5) + 1.0) * (CAST(tf2 AS DOUBLE) * 2.2) / (CAST(tf2 AS DOUBLE) + 1.2 * (0.25 + 0.75 * dl / avgdl))
        |  AS DECIMAL(18,6)) AS DOUBLE) AS bm25
        |FROM d CROSS JOIN g
        |WHERE tf0 + tf1 + tf2 > 0
        |ORDER BY bm25 DESC, doc_id LIMIT 20""".stripMargin,
    "q98_boilerplate" ->
      """WITH t AS (SELECT doc_id, source, regexp_extract_all(lower(text), '[a-z0-9]+') AS toks FROM documents),
        |g AS (SELECT DISTINCT doc_id, source, toks[CAST(i AS INT)] || ' ' || toks[CAST(i AS INT) + 1] AS gram
        |      FROM t, unnest(range(1, len(toks))) AS u(i)
        |      WHERE len(toks) >= 2),
        |c AS (SELECT source, gram, COUNT(*) AS n_docs FROM g GROUP BY 1, 2),
        |r AS (SELECT source, gram, n_docs,
        |        row_number() OVER (PARTITION BY source ORDER BY n_docs DESC, gram) AS rk
        |      FROM c)
        |SELECT source, gram, n_docs, rk FROM r WHERE rk <= 3 ORDER BY source, rk""".stripMargin,
    "q99_substring_dedup" ->
      // 40-char frames, stride 10: DuckDB range() excludes its stop, so
      // range(1, len-38, 10) = Spark's sequence(1, len-39, 10)
      """WITH w AS (
        |  SELECT DISTINCT doc_id, md5(substr(text, CAST(p AS INT), 40)) AS h
        |  FROM documents, unnest(range(1, len(text) - 38, 10)) AS u(p)
        |  WHERE len(text) >= 40),
        |ok AS (SELECT h FROM w GROUP BY h HAVING COUNT(*) BETWEEN 2 AND 50)
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_shared
        |FROM w a JOIN ok USING (h) JOIN w b USING (h)
        |WHERE a.doc_id < b.doc_id
        |GROUP BY 1, 2 HAVING COUNT(*) >= 2
        |ORDER BY doc_a, doc_b""".stripMargin,
    "q100_inverted_index" ->
      """WITH p AS (SELECT DISTINCT tok AS token, doc_id
        |           FROM (SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS tok
        |                 FROM documents)),
        |r AS (SELECT token, doc_id,
        |        row_number() OVER (PARTITION BY token ORDER BY doc_id) AS rk FROM p)
        |SELECT p.token, COUNT(*) AS df,
        |  (SELECT array_to_string(list(r.doc_id ORDER BY r.doc_id), ',')
        |   FROM r WHERE r.token = p.token AND r.rk <= 10) AS postings
        |FROM p GROUP BY p.token ORDER BY p.token""".stripMargin,
    "q101_sliding_distinct" ->
      """WITH ud AS (SELECT DISTINCT event_type, user_id, CAST(ts AS DATE) AS day FROM events),
        |anchors AS (SELECT DISTINCT event_type, day FROM ud)
        |SELECT a.event_type, strftime(a.day, '%Y-%m-%d') AS day,
        |  COUNT(DISTINCT ud.user_id) AS n_users
        |FROM anchors a JOIN ud ON ud.event_type = a.event_type
        |  AND ud.day BETWEEN a.day - 6 AND a.day
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q102_markov" ->
      """WITH s AS (SELECT lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type,
        |             event_type AS next_type FROM events),
        |p AS (SELECT prev_type, next_type FROM s WHERE prev_type IS NOT NULL),
        |c AS (SELECT prev_type, next_type, COUNT(*) AS n FROM p GROUP BY 1, 2),
        |t AS (SELECT prev_type, COUNT(*) AS n_from FROM p GROUP BY 1)
        |SELECT c.prev_type, c.next_type, c.n,
        |  CAST(c.n AS DOUBLE) / CAST(t.n_from AS DOUBLE) AS p
        |FROM c JOIN t USING (prev_type) ORDER BY 1, 2""".stripMargin,
    "q103_attribution" ->
      """WITH s AS (SELECT event_type,
        |    lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type,
        |    CAST(floor(epoch(ts)) AS BIGINT)
        |      - CAST(floor(epoch(lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id))) AS BIGINT) AS gap
        |  FROM events)
        |SELECT CASE WHEN prev_type IS NOT NULL AND gap <= 1800 THEN prev_type
        |            ELSE 'direct' END AS touch,
        |  COUNT(*) AS n_conversions
        |FROM s WHERE event_type = 'purchase' GROUP BY 1 ORDER BY 1""".stripMargin,
    "q104_regression" ->
      // SCALE-0 centi-unit integer fold (round-8 overflow fix, mirrored
      // from the operator): every term an exact HUGEINT, the 10^4
      // quantization factor cancels between num and den, ONE double
      // division yields the slope, quantized DECIMAL(18,6)
      """WITH d AS (SELECT o_orderpriority,
        |    CAST(round(datediff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) * 100) AS HUGEINT) AS x,
        |    CAST(round(CAST(o_totalprice AS DOUBLE) * 100) AS HUGEINT) AS y
        |  FROM orders),
        |g AS (SELECT o_orderpriority, CAST(COUNT(*) AS HUGEINT) AS n,
        |    SUM(x) AS sx, SUM(y) AS sy,
        |    SUM(x * y) AS sxy, SUM(x * x) AS sxx
        |  FROM d GROUP BY 1)
        |SELECT o_orderpriority, CAST(n AS BIGINT) AS n,
        |  CAST(CAST(CASE WHEN CAST(n * sxx - sx * sx AS DOUBLE) = 0 THEN NULL
        |    ELSE CAST(n * sxy - sx * sy AS DOUBLE) / CAST(n * sxx - sx * sx AS DOUBLE) END
        |    AS DECIMAL(18,6)) AS DOUBLE) AS slope
        |FROM g ORDER BY 1""".stripMargin,
    "q105_assoc_rules" ->
      """WITH items AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day, event_type AS item FROM events),
        |nb AS (SELECT COUNT(*) AS n_baskets FROM (SELECT DISTINCT user_id, day FROM items)),
        |ic AS (SELECT item, COUNT(*) AS n_item FROM items GROUP BY 1),
        |pc AS (SELECT a.item AS antecedent, b.item AS consequent, COUNT(*) AS n_pair
        |       FROM items a JOIN items b USING (user_id, day)
        |       WHERE a.item <> b.item GROUP BY 1, 2 HAVING COUNT(*) >= 2)
        |SELECT antecedent, consequent, n_pair,
        |  CAST(CAST(CAST(n_pair AS DOUBLE) / CAST(n_baskets AS DOUBLE) AS DECIMAL(18,6)) AS DOUBLE) AS support,
        |  CAST(CAST(CAST(n_pair AS DOUBLE) / CAST(ia.n_item AS DOUBLE) AS DECIMAL(18,6)) AS DOUBLE) AS confidence,
        |  CAST(CAST(CAST(n_pair AS DOUBLE) * CAST(n_baskets AS DOUBLE)
        |    / (CAST(ia.n_item AS DOUBLE) * CAST(ib.n_item AS DOUBLE)) AS DECIMAL(18,6)) AS DOUBLE) AS lift
        |FROM pc JOIN ic ia ON pc.antecedent = ia.item
        |        JOIN ic ib ON pc.consequent = ib.item
        |        CROSS JOIN nb
        |ORDER BY 1, 2""".stripMargin,
    "q106_pct_of_total" ->
      """WITH bn AS (SELECT n_name, CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS rev
        |            FROM orders JOIN customer ON o_custkey = c_custkey
        |            JOIN nation ON c_nationkey = n_nationkey GROUP BY 1),
        |t AS (SELECT CAST(SUM(rev) AS DECIMAL(18,2)) AS tot FROM bn)
        |SELECT n_name, CAST(rev AS DOUBLE) AS revenue,
        |  CAST(CAST(CAST(rev AS DOUBLE) / CAST(tot AS DOUBLE) AS DECIMAL(18,6)) AS DOUBLE) AS share
        |FROM bn CROSS JOIN t ORDER BY n_name""".stripMargin,
    "q107_winsorized" ->
      // interpolated percentile bounds quantized (18,4) BEFORE clipping so
      // both engines clip against identical bounds; decimal sum, one division
      """WITH b AS (SELECT event_type,
        |    CAST(quantile_cont(value, 0.05) AS DECIMAL(18,4)) AS lo,
        |    CAST(quantile_cont(value, 0.95) AS DECIMAL(18,4)) AS hi
        |  FROM events GROUP BY 1)
        |SELECT e.event_type, COUNT(*) AS n_rows,
        |  CAST(CAST(CAST(CAST(SUM(least(greatest(CAST(e.value AS DECIMAL(18,4)), b.lo), b.hi)) AS DECIMAL(18,4)) AS DOUBLE)
        |    / COUNT(*) AS DECIMAL(18,6)) AS DOUBLE) AS wins_mean
        |FROM events e JOIN b USING (event_type)
        |GROUP BY e.event_type ORDER BY e.event_type""".stripMargin,
    "q108_quantile_norm" ->
      """SELECT source, doc_id, n_chars,
        |  percent_rank() OVER (PARTITION BY source ORDER BY n_chars, doc_id) AS calibrated
        |FROM documents ORDER BY source, doc_id""".stripMargin,
    "q109_bigram_ll" ->
      """WITH t AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS toks FROM documents),
        |dt AS (SELECT doc_id, toks[CAST(i AS INT)] AS w1, toks[CAST(i AS INT) + 1] AS w2
        |       FROM t, unnest(range(1, len(toks))) AS u(i)
        |       WHERE len(toks) >= 2),
        |big AS (SELECT w1, w2, COUNT(*) AS cb FROM dt GROUP BY 1, 2),
        |uni AS (SELECT w1, COUNT(*) AS cu FROM dt GROUP BY 1),
        |v AS (SELECT CAST(COUNT(DISTINCT w1) AS DOUBLE) AS vv FROM dt),
        |lp AS (SELECT doc_id, CAST(ln((cb + 1) / (cu + vv)) AS DECIMAL(28,9)) AS lp
        |       FROM dt JOIN big USING (w1, w2) JOIN uni USING (w1) CROSS JOIN v)
        |SELECT doc_id, COUNT(*) AS n_bigrams,
        |  CAST(CAST(CAST(SUM(lp) AS DOUBLE) / COUNT(*) AS DECIMAL(18,6)) AS DOUBLE) AS avg_logprob
        |FROM lp GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "q140_global_median" ->
      // DuckDB median(DOUBLE) is quantile_cont(0.5): lower + (upper-lower)
      // * 0.5 on the middle pair — the exact formula the refinement's
      // even-n branch computes
      "SELECT COUNT(value) AS n, median(value) AS median FROM events",
    "q141_auc" ->
      // Mann-Whitney numerator 2U = Σ pos·(2·cumNegBelow + neg) over
      // distinct scores — integer until the one final division, so the
      // engines agree bit-for-bit
      """WITH lab AS (SELECT o_orderpriority AS grp, o_totalprice AS score,
        |                    o_orderstatus = 'F' AS y FROM orders),
        |ps AS (SELECT grp, score,
        |         COUNT(CASE WHEN y THEN 1 END) AS pos,
        |         COUNT(CASE WHEN NOT y THEN 1 END) AS neg
        |       FROM lab GROUP BY 1, 2),
        |cum AS (SELECT grp, pos, neg,
        |          COALESCE(SUM(neg) OVER (PARTITION BY grp ORDER BY score
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cumneg
        |        FROM ps)
        |SELECT grp, CAST(SUM(pos) AS BIGINT) AS pos_n, CAST(SUM(neg) AS BIGINT) AS neg_n,
        |  CASE WHEN SUM(pos) > 0 AND SUM(neg) > 0 THEN
        |    CAST(SUM(pos * (cumneg * 2 + neg)) AS DOUBLE) /
        |      (CAST(SUM(pos) AS DOUBLE) * CAST(SUM(neg) AS DOUBLE) * 2)
        |  END AS auc
        |FROM cum GROUP BY grp ORDER BY grp""".stripMargin,
    "q142_psi" ->
      // bins anchored on the expected side's min/max, clamped edge bins,
      // +0.5 Laplace smoothing, ln terms through DECIMAL(28,9) before the
      // order-independent sum (the q88 recipe)
      """WITH e AS (SELECT value AS v FROM events WHERE event_type = 'view'),
        |a AS (SELECT value AS v FROM events WHERE event_type = 'purchase'),
        |s AS (SELECT min(v) AS lo, (max(v) - min(v)) / 10 AS w FROM e),
        |eb AS (SELECT LEAST(9, GREATEST(0, CAST(FLOOR((v - lo) / w) AS INT))) AS bin,
        |              COUNT(*) AS en FROM e, s GROUP BY 1),
        |ab AS (SELECT LEAST(9, GREATEST(0, CAST(FLOOR((v - lo) / w) AS INT))) AS bin,
        |              COUNT(*) AS an FROM a, s GROUP BY 1),
        |cells AS (SELECT CAST(r.range AS INT) AS bin,
        |                 COALESCE(en, 0) AS expected_n, COALESCE(an, 0) AS actual_n
        |          FROM range(0, 10) r
        |          LEFT JOIN eb ON eb.bin = r.range LEFT JOIN ab ON ab.bin = r.range),
        |tot AS (SELECT SUM(expected_n) AS ne, SUM(actual_n) AS na FROM cells),
        |terms AS (SELECT expected_n, actual_n,
        |    (CAST(expected_n AS DOUBLE) + CAST(0.5 AS DOUBLE)) / (CAST(ne AS DOUBLE) + CAST(5 AS DOUBLE)) AS p,
        |    (CAST(actual_n AS DOUBLE) + CAST(0.5 AS DOUBLE)) / (CAST(na AS DOUBLE) + CAST(5 AS DOUBLE)) AS q
        |  FROM cells, tot)
        |SELECT CAST(SUM(expected_n) AS BIGINT) AS expected_n,
        |       CAST(SUM(actual_n) AS BIGINT) AS actual_n,
        |       CAST(SUM(CAST((p - q) * ln(p / q) AS DECIMAL(28,9))) AS DOUBLE) AS psi
        |FROM terms""".stripMargin,
    "q143_ks" ->
      // ECDF gap evaluated at every distinct sample value — the step
      // functions change nowhere else, so the max over those rows IS D
      """WITH u AS (SELECT value AS v, TRUE AS ia FROM events WHERE event_type = 'click'
        |           UNION ALL
        |           SELECT value AS v, FALSE AS ia FROM events WHERE event_type = 'view'),
        |g AS (SELECT v, COUNT(CASE WHEN ia THEN 1 END) AS ca,
        |             COUNT(CASE WHEN NOT ia THEN 1 END) AS cb FROM u GROUP BY v),
        |c AS (SELECT SUM(ca) OVER (ORDER BY v) AS cuma,
        |             SUM(cb) OVER (ORDER BY v) AS cumb FROM g),
        |t AS (SELECT CAST(SUM(ca) AS BIGINT) AS n_a, CAST(SUM(cb) AS BIGINT) AS n_b FROM g)
        |SELECT n_a, n_b,
        |  MAX(ABS(CAST(cuma AS DOUBLE) / CAST(n_a AS DOUBLE) -
        |          CAST(cumb AS DOUBLE) / CAST(n_b AS DOUBLE))) AS d
        |FROM c, t GROUP BY n_a, n_b""".stripMargin,
    "q144_class_metrics" ->
      // one contingency pass; margins re-aggregated from it; class P is
      // never predicted (precision 0 by the margin guard, not NULL)
      """WITH p AS (SELECT o_orderstatus AS actual,
        |             CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 'F'
        |                  WHEN o_orderpriority = '3-MEDIUM' THEN 'P'
        |                  ELSE 'O' END AS predicted
        |           FROM orders),
        |cm AS (SELECT actual, predicted, COUNT(*) AS n FROM p GROUP BY 1, 2),
        |at AS (SELECT actual AS label, CAST(SUM(n) AS BIGINT) AS support FROM cm GROUP BY 1),
        |pt AS (SELECT predicted AS label, CAST(SUM(n) AS BIGINT) AS predicted_n FROM cm GROUP BY 1),
        |tp AS (SELECT actual AS label, n AS tp FROM cm WHERE actual = predicted),
        |b AS (SELECT label, COALESCE(support, 0) AS support,
        |             COALESCE(predicted_n, 0) AS predicted_n, COALESCE(tp, 0) AS tp
        |      FROM at FULL OUTER JOIN pt USING (label) LEFT JOIN tp USING (label)),
        |m AS (SELECT label, support, predicted_n, tp,
        |        CASE WHEN predicted_n > 0 THEN CAST(tp AS DOUBLE) / CAST(predicted_n AS DOUBLE)
        |             ELSE CAST(0 AS DOUBLE) END AS "precision",
        |        CASE WHEN support > 0 THEN CAST(tp AS DOUBLE) / CAST(support AS DOUBLE)
        |             ELSE CAST(0 AS DOUBLE) END AS recall
        |      FROM b)
        |SELECT label, support, predicted_n, tp, "precision", recall,
        |  CASE WHEN "precision" + recall > 0
        |       THEN "precision" * recall * 2 / ("precision" + recall)
        |       ELSE CAST(0 AS DOUBLE) END AS f1
        |FROM m ORDER BY label""".stripMargin,
    "q154_lift" ->
      // tie policy mirrored: a tied score block lands wholly in the decile
      // of its LAST row ((cum_n-1)*10 // total); `//` = Spark's `div`
      """WITH ps AS (SELECT o_totalprice AS score, COUNT(*) AS n,
        |              COUNT(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS pos
        |            FROM orders GROUP BY 1),
        |c AS (SELECT n, pos, SUM(n) OVER (ORDER BY score DESC) AS cum_n FROM ps),
        |t AS (SELECT CAST(SUM(n) AS BIGINT) AS nn, CAST(SUM(pos) AS BIGINT) AS np FROM ps),
        |d AS (SELECT CAST(((cum_n - 1) * 10) // nn AS BIGINT) AS decile, n, pos, nn, np FROM c, t),
        |g AS (SELECT decile, nn, np, CAST(SUM(n) AS BIGINT) AS n, CAST(SUM(pos) AS BIGINT) AS pos
        |      FROM d GROUP BY 1, 2, 3),
        |f AS (SELECT decile, n, pos, nn, np,
        |        CAST(SUM(n) OVER (ORDER BY decile) AS BIGINT) AS cum_n,
        |        CAST(SUM(pos) OVER (ORDER BY decile) AS BIGINT) AS cum_pos FROM g)
        |SELECT decile, n, pos, cum_n, cum_pos,
        |  CAST(cum_pos AS DOUBLE) / CAST(np AS DOUBLE) AS capture_rate,
        |  (CAST(cum_pos AS DOUBLE) / CAST(cum_n AS DOUBLE)) /
        |    (CAST(np AS DOUBLE) / CAST(nn AS DOUBLE)) AS lift
        |FROM f ORDER BY decile""".stripMargin,
    "q155_ab_test" ->
      // pooled-variance two-proportion z; arm 0 is control (z/lift NULL
      // there); all ratios fixed double chains, sqrt IEEE-exact both engines
      """WITH arms AS (SELECT CAST(o_orderkey % 3 AS VARCHAR) AS arm, COUNT(*) AS n,
        |                COUNT(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS pos
        |              FROM orders GROUP BY 1),
        |ctl AS (SELECT n AS cn, pos AS cpos FROM arms WHERE arm = '0'),
        |j AS (SELECT arm, n, pos, cn, cpos,
        |        CAST(pos AS DOUBLE) / CAST(n AS DOUBLE) AS p,
        |        CAST(cpos AS DOUBLE) / CAST(cn AS DOUBLE) AS pc,
        |        CAST(pos + cpos AS DOUBLE) / CAST(n + cn AS DOUBLE) AS pool
        |      FROM arms CROSS JOIN ctl),
        |k AS (SELECT arm, n, pos, p, pc,
        |        sqrt(pool * (CAST(1 AS DOUBLE) - pool) *
        |             (CAST(1 AS DOUBLE) / CAST(n AS DOUBLE) +
        |              CAST(1 AS DOUBLE) / CAST(cn AS DOUBLE))) AS se
        |      FROM j)
        |SELECT arm, CAST(n AS BIGINT) AS n, CAST(pos AS BIGINT) AS pos, p AS rate,
        |  CASE WHEN arm <> '0' AND se > 0 THEN (p - pc) / se END AS z,
        |  CASE WHEN arm <> '0' AND pc > 0 THEN (p - pc) / pc END AS rel_lift
        |FROM k ORDER BY arm""".stripMargin,
    "q156_mutual_info" ->
      // MI terms only at observed cells (0·ln0 = 0 by continuity); chi2 on
      // the FULL grid; every ln/chi2 term DECIMAL(28,10) before the sum;
      // each decimal sum cast to double separately before combining
      """WITH o AS (SELECT o_orderpriority AS x, o_orderstatus AS y, COUNT(*) AS o
        |           FROM orders GROUP BY 1, 2),
        |rx AS (SELECT x, SUM(o) AS nx FROM o GROUP BY x),
        |cy AS (SELECT y, SUM(o) AS ny FROM o GROUP BY y),
        |n AS (SELECT SUM(o) AS n, COUNT(DISTINCT x) AS kx, COUNT(DISTINCT y) AS ky FROM o),
        |hx AS (SELECT CAST(SUM(CAST(-(CAST(nx AS DOUBLE) / CAST(n.n AS DOUBLE)) *
        |         ln(CAST(nx AS DOUBLE) / CAST(n.n AS DOUBLE)) AS DECIMAL(28,10))) AS DOUBLE) AS hx
        |       FROM rx, n),
        |hy AS (SELECT CAST(SUM(CAST(-(CAST(ny AS DOUBLE) / CAST(n.n AS DOUBLE)) *
        |         ln(CAST(ny AS DOUBLE) / CAST(n.n AS DOUBLE)) AS DECIMAL(28,10))) AS DOUBLE) AS hy
        |       FROM cy, n),
        |cells AS (SELECT rx.x, rx.nx, cy.y, cy.ny, COALESCE(o.o, 0) AS o
        |          FROM rx CROSS JOIN cy LEFT JOIN o USING (x, y)),
        |t AS (SELECT n.n, n.kx, n.ky,
        |        CASE WHEN c.o > 0 THEN CAST(
        |            (CAST(c.o AS DOUBLE) / CAST(n.n AS DOUBLE)) *
        |            ln((CAST(c.o AS DOUBLE) / CAST(n.n AS DOUBLE)) /
        |               ((CAST(c.nx AS DOUBLE) / CAST(n.n AS DOUBLE)) *
        |                (CAST(c.ny AS DOUBLE) / CAST(n.n AS DOUBLE)))) AS DECIMAL(28,10))
        |          ELSE CAST(0 AS DECIMAL(28,10)) END AS mt,
        |        CAST((CAST(c.o AS DOUBLE) - CAST(c.nx * c.ny AS DOUBLE) / CAST(n.n AS DOUBLE))
        |           * (CAST(c.o AS DOUBLE) - CAST(c.nx * c.ny AS DOUBLE) / CAST(n.n AS DOUBLE))
        |           / (CAST(c.nx * c.ny AS DOUBLE) / CAST(n.n AS DOUBLE)) AS DECIMAL(28,10)) AS ct
        |      FROM cells c CROSS JOIN n),
        |m AS (SELECT n, kx, ky, CAST(SUM(mt) AS DOUBLE) AS mi, CAST(SUM(ct) AS DOUBLE) AS chi2
        |      FROM t GROUP BY 1, 2, 3)
        |SELECT CAST(m.n AS BIGINT) AS n_rows, mi,
        |  CASE WHEN hx.hx > 0 AND hy.hy > 0 THEN mi / sqrt(hx.hx * hy.hy)
        |       ELSE CAST(0 AS DOUBLE) END AS nmi,
        |  CASE WHEN LEAST(kx, ky) > 1
        |       THEN sqrt(chi2 / CAST(m.n * (LEAST(kx, ky) - 1) AS DOUBLE))
        |       ELSE CAST(0 AS DOUBLE) END AS cramers_v
        |FROM m, hx, hy""".stripMargin,
    "q157_survival" ->
      // KM product as exp of an exact integer nano-unit ln cumsum (round on
      // double = half away from zero in both engines); survival quantized
      // 9 dp; terminal full-death step pinned to 0, never ln(0)
      """WITH pu AS (SELECT user_id,
        |        (CAST(floor(epoch(max(ts))) AS BIGINT) -
        |         CAST(floor(epoch(min(ts))) AS BIGINT)) // 86400 AS t,
        |        COUNT(CASE WHEN event_type = 'purchase' THEN 1 END) > 0 AS died
        |      FROM events GROUP BY user_id),
        |pt AS (SELECT t, COUNT(CASE WHEN died THEN 1 END) AS d,
        |              COUNT(CASE WHEN NOT died THEN 1 END) AS c
        |       FROM pu GROUP BY t),
        |tot AS (SELECT CAST(SUM(d + c) AS BIGINT) AS nn FROM pt),
        |cum AS (SELECT t, d, c, SUM(d) OVER (ORDER BY t) AS cum_d,
        |               SUM(c) OVER (ORDER BY t) AS cum_c FROM pt),
        |risk AS (SELECT t, d, nn - (cum_d + cum_c - d - c) AS n_risk
        |         FROM cum, tot WHERE d > 0),
        |lnq AS (SELECT t, n_risk, d,
        |          CASE WHEN d < n_risk THEN CAST(round(ln(CAST(1 AS DOUBLE) -
        |            CAST(d AS DOUBLE) / CAST(n_risk AS DOUBLE)) * 1e9) AS BIGINT)
        |          ELSE 0 END AS q
        |        FROM risk),
        |s AS (SELECT t, n_risk, d, SUM(q) OVER (ORDER BY t) AS cq FROM lnq)
        |SELECT t, CAST(n_risk AS BIGINT) AS n_risk, CAST(d AS BIGINT) AS d,
        |  CASE WHEN d < n_risk
        |       THEN CAST(CAST(exp(CAST(cq AS DOUBLE) / 1e9) AS DECIMAL(18,9)) AS DOUBLE)
        |       ELSE CAST(0 AS DOUBLE) END AS survival
        |FROM s ORDER BY t""".stripMargin,
    "q158_spearman" ->
      // Pearson over DOUBLED average-ties ranks (integers); exact decimal
      // sums, each cast to double separately, textbook formula last
      """WITH r AS (SELECT l_returnflag AS g,
        |    2*rank() OVER (PARTITION BY l_returnflag ORDER BY l_quantity) +
        |      COUNT(*) OVER (PARTITION BY l_returnflag, l_quantity) - 1 AS rx2,
        |    2*rank() OVER (PARTITION BY l_returnflag ORDER BY l_extendedprice) +
        |      COUNT(*) OVER (PARTITION BY l_returnflag, l_extendedprice) - 1 AS ry2
        |  FROM lineitem),
        |a AS (SELECT g, COUNT(*) AS n,
        |    SUM(CAST(rx2 AS DECIMAL(19,0))) AS sx,
        |    SUM(CAST(ry2 AS DECIMAL(19,0))) AS sy,
        |    SUM(CAST(rx2 AS DECIMAL(19,0)) * CAST(ry2 AS DECIMAL(19,0))) AS sxy,
        |    SUM(CAST(rx2 AS DECIMAL(19,0)) * CAST(rx2 AS DECIMAL(19,0))) AS sxx,
        |    SUM(CAST(ry2 AS DECIMAL(19,0)) * CAST(ry2 AS DECIMAL(19,0))) AS syy
        |  FROM r GROUP BY g)
        |SELECT g AS l_returnflag, CAST(n AS BIGINT) AS n_rows,
        |  CASE WHEN sqrt((CAST(n AS DOUBLE)*CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE)*CAST(sx AS DOUBLE))
        |              * (CAST(n AS DOUBLE)*CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE)*CAST(sy AS DOUBLE))) > 0
        |       THEN CAST(CAST((CAST(n AS DOUBLE)*CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE)*CAST(sy AS DOUBLE))
        |         / sqrt((CAST(n AS DOUBLE)*CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE)*CAST(sx AS DOUBLE))
        |              * (CAST(n AS DOUBLE)*CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE)*CAST(sy AS DOUBLE)))
        |         AS DECIMAL(18,9)) AS DOUBLE) END AS rho
        |FROM a ORDER BY l_returnflag""".stripMargin,
    "q159_acf" ->
      // lag pairs via EQUI self-join on t (+lag from a range table); μ one
      // double division; centered products DECIMAL(28,9) before the sum
      """WITH d AS (SELECT CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS t, COUNT(*) AS x
        |           FROM events GROUP BY 1),
        |st AS (SELECT COUNT(*) AS n, SUM(CAST(x AS DECIMAL(19,0))) AS sx,
        |         SUM(CAST(x AS DECIMAL(19,0)) * CAST(x AS DECIMAL(19,0))) AS sxx FROM d),
        |m AS (SELECT CAST(sx AS DOUBLE)/CAST(n AS DOUBLE) AS mu,
        |        CAST(sxx AS DOUBLE) - CAST(n AS DOUBLE)
        |          * (CAST(sx AS DOUBLE)/CAST(n AS DOUBLE))
        |          * (CAST(sx AS DOUBLE)/CAST(n AS DOUBLE)) AS den FROM st),
        |p AS (SELECT l.lag, d1.x AS x0, d2.x AS xh
        |      FROM d d1 CROSS JOIN (SELECT CAST(r AS BIGINT) AS lag FROM range(1,8) t(r)) l
        |      JOIN d d2 ON d2.t = d1.t + l.lag),
        |g AS (SELECT lag, den, COUNT(*) AS n_pairs,
        |        CAST(SUM(CAST((CAST(x0 AS DOUBLE) - mu) * (CAST(xh AS DOUBLE) - mu)
        |          AS DECIMAL(28,9))) AS DOUBLE) AS num
        |      FROM p CROSS JOIN m GROUP BY lag, den)
        |SELECT lag, n_pairs,
        |  CASE WHEN den > 0 THEN CAST(CAST(num/den AS DECIMAL(18,9)) AS DOUBLE) END AS acf
        |FROM g ORDER BY lag""".stripMargin,
    "q160_benford" ->
      // digit from the canonical decimal string (never floor(log10));
      // expected shares are PRE-ROUNDED nano-unit integers so neither
      // engine's libm log10 is ever compared
      """WITH e(digit, q) AS (VALUES ('1', 301029996), ('2', 176091259), ('3', 124938737),
        |  ('4', 96910013), ('5', 79181246), ('6', 66946790), ('7', 57991947),
        |  ('8', 51152522), ('9', 45757491)),
        |o AS (SELECT regexp_extract(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) AS VARCHAR), '[1-9]') AS digit,
        |        COUNT(*) AS n_obs
        |      FROM lineitem
        |      WHERE regexp_extract(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) AS VARCHAR), '[1-9]') <> ''
        |      GROUP BY 1),
        |t AS (SELECT CAST(SUM(n_obs) AS BIGINT) AS nn FROM o),
        |pd AS (SELECT e.digit, COALESCE(o.n_obs, 0) AS n_obs,
        |         CAST(e.q AS DOUBLE)/1e9 AS p_exp, nn
        |       FROM e LEFT JOIN o USING (digit) CROSS JOIN t),
        |c AS (SELECT digit, n_obs, p_exp, nn,
        |        CAST((CAST(n_obs AS DOUBLE) - p_exp * CAST(nn AS DOUBLE))
        |           * (CAST(n_obs AS DOUBLE) - p_exp * CAST(nn AS DOUBLE))
        |           / (p_exp * CAST(nn AS DOUBLE)) AS DECIMAL(28,9)) AS chi_q FROM pd),
        |s AS (SELECT CAST(SUM(chi_q) AS DOUBLE) AS chi2 FROM c)
        |SELECT digit, CAST(n_obs AS BIGINT) AS n_obs,
        |  CAST(CAST(CAST(n_obs AS DOUBLE)/CAST(nn AS DOUBLE) AS DECIMAL(18,9)) AS DOUBLE) AS p_obs,
        |  p_exp, CAST(chi_q AS DOUBLE) AS chi_term, chi2
        |FROM c CROSS JOIN s ORDER BY digit""".stripMargin,
    "q161_cusum" ->
      // Lindley form S_t = C_t − min(0, min C_j): deviations rounded to
      // integer micro-units, then exact cumsum/cummin windows; μ/σ fixed
      // double chains over exact decimal sums
      """WITH d AS (SELECT CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS t, COUNT(*) AS x
        |           FROM events GROUP BY 1),
        |st AS (SELECT COUNT(*) AS n, SUM(CAST(x AS DECIMAL(19,0))) AS sx,
        |         SUM(CAST(x AS DECIMAL(19,0)) * CAST(x AS DECIMAL(19,0))) AS sxx FROM d),
        |m AS (SELECT CAST(sx AS DOUBLE)/CAST(n AS DOUBLE) AS mu,
        |        sqrt((CAST(n AS DOUBLE)*CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE)*CAST(sx AS DOUBLE))
        |             / (CAST(n AS DOUBLE)*CAST(n AS DOUBLE))) AS sigma FROM st),
        |v AS (SELECT t, x, sigma,
        |        CAST(round((CAST(x AS DOUBLE) - mu - 0.5*sigma)*1e6) AS BIGINT) AS up,
        |        CAST(round((mu - CAST(x AS DOUBLE) - 0.5*sigma)*1e6) AS BIGINT) AS dn
        |      FROM d CROSS JOIN m),
        |c AS (SELECT t, x, sigma, SUM(up) OVER (ORDER BY t) AS cu,
        |        SUM(dn) OVER (ORDER BY t) AS cd FROM v),
        |mm AS (SELECT t, x, sigma, cu, cd, MIN(cu) OVER (ORDER BY t) AS mcu,
        |         MIN(cd) OVER (ORDER BY t) AS mcd FROM c)
        |SELECT t, CAST(x AS BIGINT) AS x,
        |  CAST(CAST(CAST(cu - LEAST(0, mcu) AS DOUBLE)/1e6 AS DECIMAL(18,6)) AS DOUBLE) AS s_plus,
        |  CAST(CAST(CAST(cd - LEAST(0, mcd) AS DOUBLE)/1e6 AS DECIMAL(18,6)) AS DOUBLE) AS s_minus,
        |  CAST(cu - LEAST(0, mcu) AS DOUBLE) > 4.0*sigma*1e6 AS alarm_up,
        |  CAST(cd - LEAST(0, mcd) AS DOUBLE) > 4.0*sigma*1e6 AS alarm_down
        |FROM mm ORDER BY t""".stripMargin,
    "q162_stratified_split" ->
      // exact per-stratum floor(n·pm/1000) boundaries in integer division;
      // rank by (md5 bucket, id) — the engine-reproducible order
      """WITH s AS (SELECT doc_id, source,
        |    row_number() OVER (PARTITION BY source
        |      ORDER BY substring(md5(CAST(doc_id AS VARCHAR)), 1, 2), doc_id) AS r,
        |    COUNT(*) OVER (PARTITION BY source) AS n
        |  FROM documents)
        |SELECT doc_id, source,
        |  CASE WHEN r <= n*800//1000 THEN 'train'
        |       WHEN r <= n*800//1000 + n*100//1000 THEN 'val'
        |       ELSE 'test' END AS split
        |FROM s ORDER BY source, doc_id""".stripMargin,
    "q163_weighted_pctile" ->
      // lower weighted percentile via integer cross-multiplication
      // cumw·1000 ≥ pm·W — no float quantile boundary
      """WITH m AS (SELECT l_returnflag AS g, l_extendedprice AS v,
        |             CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS nv
        |           FROM lineitem GROUP BY 1, 2),
        |c AS (SELECT g, v, nv, SUM(nv) OVER (PARTITION BY g ORDER BY v) AS cumw,
        |        SUM(nv) OVER (PARTITION BY g) AS tw FROM m),
        |p AS (SELECT c.*, pm FROM c CROSS JOIN (SELECT unnest([500, 900]) AS pm) u
        |      WHERE cumw*1000 >= pm*tw)
        |SELECT g AS l_returnflag, pm, MIN(v) AS value,
        |  CAST(MAX(tw) AS BIGINT) AS total_weight
        |FROM p GROUP BY 1, 2 ORDER BY l_returnflag, pm""".stripMargin,
    "q164_automation" ->
      // gap multiset is tie-order independent (successive differences of a
      // sorted multiset); CV one fixed double chain over exact decimal sums
      """WITH e AS (SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS sec, event_id FROM events),
        |g AS (SELECT user_id, sec - lag(sec) OVER (PARTITION BY user_id ORDER BY sec, event_id) AS gap FROM e),
        |gg AS (SELECT user_id, gap FROM g WHERE gap IS NOT NULL),
        |st AS (SELECT user_id, COUNT(*) AS n_gaps, SUM(CAST(gap AS DECIMAL(19,0))) AS sg,
        |         SUM(CAST(gap AS DECIMAL(19,0)) * CAST(gap AS DECIMAL(19,0))) AS sgg
        |       FROM gg GROUP BY 1),
        |md AS (SELECT user_id, MAX(ng) AS modal_n
        |       FROM (SELECT user_id, gap, COUNT(*) AS ng FROM gg GROUP BY 1, 2) GROUP BY 1),
        |k AS (SELECT st.user_id, n_gaps,
        |        CASE WHEN CAST(sg AS DOUBLE) > 0
        |             THEN sqrt(CAST(n_gaps AS DOUBLE)*CAST(sgg AS DOUBLE)
        |                     - CAST(sg AS DOUBLE)*CAST(sg AS DOUBLE))/CAST(sg AS DOUBLE)
        |             ELSE CAST(0 AS DOUBLE) END AS cv,
        |        CAST(modal_n AS DOUBLE)/CAST(n_gaps AS DOUBLE) AS ms,
        |        CAST(sg AS DOUBLE)/CAST(n_gaps AS DOUBLE) AS mg
        |      FROM st JOIN md USING (user_id) WHERE n_gaps >= 9)
        |SELECT user_id, n_gaps,
        |  CAST(CAST(mg AS DECIMAL(18,6)) AS DOUBLE) AS mean_gap_sec,
        |  CAST(CAST(cv AS DECIMAL(18,9)) AS DOUBLE) AS cv,
        |  CAST(CAST(ms AS DECIMAL(18,9)) AS DOUBLE) AS modal_share,
        |  cv < 0.1 OR ms > 0.5 AS flagged
        |FROM k ORDER BY user_id""".stripMargin,
    "q165_containment" -> containmentTruthSql("0.8"),
    "q170_kcore" -> kcoreTruthSql(4, 12),
    "q171_k_anonymity" ->
      // exact integers/booleans only — nothing representation-sensitive
      """SELECT c_nationkey, c_mktsegment,
        |  COUNT(*) AS class_size,
        |  COUNT(DISTINCT c_acctbal < 0) AS l_distinct,
        |  COUNT(*) < 8 AS k_violation,
        |  COUNT(DISTINCT c_acctbal < 0) < 2 AS l_violation
        |FROM customer GROUP BY 1, 2
        |HAVING COUNT(*) < 8 OR COUNT(DISTINCT c_acctbal < 0) < 2
        |ORDER BY 1, 2""".stripMargin,
    "q172_kappa" ->
      // margins multiplied as HUGEINT (≡ Spark DECIMAL(38,0)); po/pe are
      // single double divisions of exact integers; kappa from the RAW
      // doubles, all three quantized 9 dp at output — same chain as Spark
      """WITH o AS (
        |  SELECT CASE WHEN l_quantity < 17 THEN 'low'
        |              WHEN l_quantity < 34 THEN 'mid' ELSE 'high' END AS a,
        |         CASE WHEN l_extendedprice < 30000 THEN 'low'
        |              WHEN l_extendedprice < 60000 THEN 'mid' ELSE 'high' END AS b,
        |         COUNT(*) AS o
        |  FROM lineitem GROUP BY 1, 2),
        |ra AS (SELECT a, CAST(SUM(o) AS BIGINT) AS na FROM o GROUP BY a),
        |cb AS (SELECT b, CAST(SUM(o) AS BIGINT) AS nb FROM o GROUP BY b),
        |n AS (SELECT CAST(SUM(o) AS BIGINT) AS n FROM o),
        |ag AS (SELECT COALESCE(CAST(SUM(CASE WHEN a = b THEN o END) AS BIGINT), 0) AS agree FROM o),
        |pr AS (SELECT COALESCE(CAST(SUM(CAST(na AS HUGEINT) * nb) AS DOUBLE), 0) AS sp
        |       FROM ra JOIN cb ON ra.a = cb.b)
        |SELECT n.n, ag.agree,
        |  CAST(CAST(agree / CAST(n AS DOUBLE) AS DECIMAL(18,9)) AS DOUBLE) AS po,
        |  CAST(CAST(sp / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)) AS DECIMAL(18,9)) AS DOUBLE) AS pe,
        |  CASE WHEN sp / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)) < 1 THEN
        |    CAST(CAST((agree / CAST(n AS DOUBLE) - sp / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)))
        |      / (1 - sp / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE))) AS DECIMAL(18,9)) AS DOUBLE)
        |  END AS kappa
        |FROM n CROSS JOIN ag CROSS JOIN pr""".stripMargin,
    "q173_dsir_weights" ->
      // mirrors q88's tokenization; the ratio is built from exact HUGEINT
      // products (≡ Spark DECIMAL(38,0)), each side rounded once to
      // double, one division, one ln, quantized 9 dp pre-sum
      """WITH dt AS (SELECT doc_id, lang = 'en' AS t,
        |    unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS tok FROM documents),
        |c AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS cs,
        |    COUNT(CASE WHEN t THEN 1 END) AS ct FROM dt GROUP BY tok),
        |tot AS (SELECT CAST(SUM(cs) AS BIGINT) AS ns, CAST(SUM(ct) AS BIGINT) AS nt,
        |    CAST(COUNT(*) AS BIGINT) AS v FROM c),
        |lw AS (SELECT doc_id,
        |    CAST(ln(CAST(CAST(ct + 1 AS HUGEINT) * (ns + v) AS DOUBLE)
        |          / CAST(CAST(cs + 1 AS HUGEINT) * (nt + v) AS DOUBLE)) AS DECIMAL(28,9)) AS lw
        |  FROM dt JOIN c USING (tok) CROSS JOIN tot)
        |SELECT doc_id, COUNT(*) AS n_tokens,
        |  CAST(CAST(CAST(SUM(lw) AS DOUBLE) / COUNT(*) AS DECIMAL(18,6)) AS DOUBLE) AS avg_logratio
        |FROM lw GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "q174_semantic_dedup" ->
      // q64's exact cosine recipe (float products, double accumulation,
      // same order); the 0.95 bar has wide margin both sides (planted
      // copies ≈ 1.0, organic pairs ≤ ~0.51)
      """WITH e AS (
        |  SELECT vec_id, label, embedding FROM embeddings
        |  UNION ALL
        |  SELECT vec_id + 1000000, label, embedding FROM embeddings WHERE vec_id < 10),
        |d AS (SELECT DISTINCT b.vec_id AS vid
        |  FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
        |  WHERE list_sum(list_transform(list_zip(a.embedding, b.embedding),
        |          p -> CAST(p[1] * p[2] AS DOUBLE)))
        |      / (sqrt(list_sum(list_transform(a.embedding, x -> CAST(x * x AS DOUBLE))))
        |       * sqrt(list_sum(list_transform(b.embedding, x -> CAST(x * x AS DOUBLE)))))
        |      >= 0.95)
        |SELECT e.vec_id, e.label AS cluster, d.vid IS NOT NULL AS dropped
        |FROM e LEFT JOIN d ON d.vid = e.vec_id
        |ORDER BY e.vec_id""".stripMargin,
    "q175_ranking" ->
      // DCG term chain mirrored exactly: (2^rel−1)·ln2/ln(rank+1), each
      // term DECIMAL(28,9) pre-sum; ndcg/rr single double divisions last
      """WITH r AS (SELECT o_custkey AS q, o_orderkey AS item, o_totalprice AS s,
        |    CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS rel FROM orders),
        |rk AS (SELECT q, item, rel,
        |    ROW_NUMBER() OVER (PARTITION BY q ORDER BY s DESC, item) AS rnk,
        |    ROW_NUMBER() OVER (PARTITION BY q ORDER BY rel DESC, item) AS irnk FROM r),
        |a AS (SELECT q, COUNT(*) AS n_items,
        |    SUM(CASE WHEN rnk <= 5 THEN
        |      CAST((power(2, rel) - 1) * ln(2) / ln(rnk + 1) AS DECIMAL(28,9))
        |      ELSE CAST(0 AS DECIMAL(28,9)) END) AS dcg,
        |    SUM(CASE WHEN irnk <= 5 THEN
        |      CAST((power(2, rel) - 1) * ln(2) / ln(irnk + 1) AS DECIMAL(28,9))
        |      ELSE CAST(0 AS DECIMAL(28,9)) END) AS idcg,
        |    MIN(CASE WHEN rel > 0 THEN rnk END) AS first_rel
        |  FROM rk GROUP BY q)
        |SELECT q, n_items,
        |  CASE WHEN idcg > 0 THEN
        |    CAST(CAST(CAST(dcg AS DOUBLE) / CAST(idcg AS DOUBLE) AS DECIMAL(18,9)) AS DOUBLE)
        |  ELSE 0.0 END AS ndcg,
        |  CAST(CAST(COALESCE(1.0 / first_rel, 0) AS DECIMAL(18,9)) AS DOUBLE) AS rr
        |FROM a ORDER BY q""".stripMargin,
    "q176_rrf" ->
      // fused = leg1 + leg2 in that fixed order both sides; quantized 9 dp
      // BEFORE the fused ranking so tie order is engine-independent
      """WITH r AS (SELECT o_custkey AS q, o_orderkey AS item,
        |    o_totalprice AS price, epoch(o_orderdate) AS recency FROM orders),
        |rk AS (SELECT q, item,
        |    ROW_NUMBER() OVER (PARTITION BY q ORDER BY price DESC, item) AS rank_price,
        |    ROW_NUMBER() OVER (PARTITION BY q ORDER BY recency DESC, item) AS rank_recency
        |  FROM r),
        |f AS (SELECT q, item, rank_price, rank_recency,
        |    CAST(CAST(1.0 / (60 + rank_price) + 1.0 / (60 + rank_recency)
        |      AS DECIMAL(18,9)) AS DOUBLE) AS fused FROM rk)
        |SELECT q, item, rank_price, rank_recency, fused,
        |  ROW_NUMBER() OVER (PARTITION BY q ORDER BY fused DESC, item) AS fused_rank
        |FROM f ORDER BY q, fused_rank""".stripMargin,
    "q177_top_p_cap" ->
      // keep-decision on cumulative-BEFORE mass in pure integer
      // cross-multiplication — boundary row kept, every group keeps ≥ 1
      """WITH w AS (SELECT source, doc_id, n_chars AS weight,
        |    SUM(n_chars) OVER (PARTITION BY source ORDER BY n_chars DESC, doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_weight,
        |    SUM(n_chars) OVER (PARTITION BY source) AS group_weight
        |  FROM documents)
        |SELECT source, doc_id, weight,
        |  CAST(cum_weight AS BIGINT) AS cum_weight,
        |  CAST(group_weight AS BIGINT) AS group_weight
        |FROM w WHERE (cum_weight - weight) * 1000 < 700 * group_weight
        |ORDER BY source, cum_weight""".stripMargin,
    "q178_bucket_batches" ->
      // per-bucket position mirrored as ROW_NUMBER − 1; integer division
      // (DuckDB //, Spark div); padding clamps to 0 in the last bucket
      """WITH t AS (SELECT doc_id,
        |    len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS n_tok FROM documents),
        |b AS (SELECT doc_id, CAST(n_tok AS BIGINT) AS n_tok,
        |    CAST(CASE WHEN n_tok <= 16 THEN 16 WHEN n_tok <= 32 THEN 32
        |              WHEN n_tok <= 64 THEN 64 ELSE 128 END AS BIGINT) AS bucket FROM t),
        |r AS (SELECT doc_id, n_tok, bucket,
        |    ROW_NUMBER() OVER (PARTITION BY bucket ORDER BY doc_id) - 1 AS pos FROM b)
        |SELECT doc_id, n_tok, bucket, pos // 8 AS batch_id,
        |  GREATEST(bucket - n_tok, 0) AS padding
        |FROM r ORDER BY bucket, doc_id""".stripMargin,
    "q179_canonical" ->
      // q63's recursive-CTE cluster truth, then the keeper via the same
      // (score DESC, node) total order the struct-max encodes
      """WITH RECURSIVE names AS (SELECT p_name, MIN(p_partkey) AS p_partkey FROM part GROUP BY p_name),
        |cand AS (
        |  SELECT a.p_partkey AS id_a, b.p_partkey AS id_b, a.p_name AS s_a, b.p_name AS s_b
        |  FROM names a JOIN names b
        |    ON substring(a.p_name, 1, 4) = substring(b.p_name, 1, 4) AND a.p_partkey < b.p_partkey
        |  UNION
        |  SELECT a.p_partkey, b.p_partkey, a.p_name, b.p_name
        |  FROM names a JOIN names b
        |    ON substring(a.p_name, greatest(length(a.p_name) - 3, 1), 4)
        |       = substring(b.p_name, greatest(length(b.p_name) - 3, 1), 4)
        |   AND a.p_partkey < b.p_partkey),
        |pairs AS (SELECT id_a, id_b FROM cand WHERE levenshtein(s_a, s_b) <= 2),
        |e AS (SELECT id_a AS src, id_b AS dst FROM pairs UNION SELECT id_b, id_a FROM pairs),
        |r(node, lab) AS (
        |  SELECT DISTINCT src, src FROM e
        |  UNION
        |  SELECT e.src, r.lab FROM e JOIN r ON e.dst = r.node),
        |c AS (SELECT node, MIN(lab) AS cluster_id FROM r GROUP BY node),
        |k AS (SELECT c.cluster_id, c.node, p.p_retailprice,
        |    ROW_NUMBER() OVER (PARTITION BY c.cluster_id
        |      ORDER BY p.p_retailprice DESC, c.node) AS rk,
        |    COUNT(*) OVER (PARTITION BY c.cluster_id) AS cluster_size
        |  FROM c JOIN part p ON p.p_partkey = c.node)
        |SELECT cluster_id, CAST(cluster_size AS BIGINT) AS cluster_size,
        |  node AS keeper_id, p_retailprice AS keeper_score
        |FROM k WHERE rk = 1 ORDER BY cluster_id""".stripMargin,
    "q180_quant_profile" ->
      // same per-element chain in index order (divide, half-away round,
      // clamp, multiply-subtract); list_sum mirrors aggregate's fold
      """WITH x AS (SELECT vec_id,
        |    list_transform(embedding, v -> CAST(v AS DOUBLE)) AS xd,
        |    len(embedding) AS n FROM embeddings),
        |s AS (SELECT vec_id, xd, n,
        |    list_max(list_transform(xd, v -> abs(v))) AS amax FROM x),
        |e AS (SELECT vec_id, n, amax,
        |    list_transform(xd, v -> v -
        |      LEAST(GREATEST(round(v / (amax / 127)), -127), 127) * (amax / 127)) AS errs
        |  FROM s)
        |SELECT vec_id,
        |  CASE WHEN amax = 0 THEN 0.0
        |    ELSE CAST(CAST(amax / 127 AS DECIMAL(18,9)) AS DOUBLE) END AS scale,
        |  CASE WHEN amax = 0 THEN 0.0
        |    ELSE CAST(CAST(list_sum(list_transform(errs, t -> t * t)) / n
        |      AS DECIMAL(18,9)) AS DOUBLE) END AS mse,
        |  CASE WHEN amax = 0 THEN 0.0
        |    ELSE CAST(CAST(list_max(list_transform(errs, t -> abs(t)))
        |      AS DECIMAL(18,9)) AS DOUBLE) END AS max_abs_err
        |FROM e ORDER BY vec_id""".stripMargin,
    "q181_linkage" ->
      // q60's candidate blocking; each field weight is the same double
      // constant quantized DECIMAL(18,9) both sides, summed in field order
      """WITH names AS (SELECT p_name, MIN(p_partkey) AS p_partkey FROM part GROUP BY p_name),
        |cand AS (
        |  SELECT a.p_partkey AS id_a, b.p_partkey AS id_b, a.p_name AS s_a, b.p_name AS s_b
        |  FROM names a JOIN names b
        |    ON substring(a.p_name, 1, 4) = substring(b.p_name, 1, 4) AND a.p_partkey < b.p_partkey
        |  UNION
        |  SELECT a.p_partkey, b.p_partkey, a.p_name, b.p_name
        |  FROM names a JOIN names b
        |    ON substring(a.p_name, greatest(length(a.p_name) - 3, 1), 4)
        |       = substring(b.p_name, greatest(length(b.p_name) - 3, 1), 4)
        |   AND a.p_partkey < b.p_partkey),
        |pairs AS (SELECT id_a, id_b FROM cand WHERE levenshtein(s_a, s_b) <= 2)
        |SELECT p.id_a, p.id_b,
        |  CAST((CASE WHEN a.p_brand IS NOT DISTINCT FROM b.p_brand THEN 1 ELSE 0 END)
        |     + (CASE WHEN a.p_type IS NOT DISTINCT FROM b.p_type THEN 1 ELSE 0 END)
        |     + (CASE WHEN a.p_size IS NOT DISTINCT FROM b.p_size THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_agree,
        |  CAST(
        |    -- literals forced to DOUBLE: a bare 0.9 is DECIMAL in DuckDB and
        |    -- 0.9/0.04 would be the exact 22.5, not the JVM's double 22.49…96
        |    (CASE WHEN a.p_brand IS NOT DISTINCT FROM b.p_brand
        |      THEN CAST(ln(CAST(0.9 AS DOUBLE) / CAST(0.04 AS DOUBLE)) AS DECIMAL(18,9))
        |      ELSE CAST(ln((1 - CAST(0.9 AS DOUBLE)) / (1 - CAST(0.04 AS DOUBLE))) AS DECIMAL(18,9)) END)
        |  + (CASE WHEN a.p_type IS NOT DISTINCT FROM b.p_type
        |      THEN CAST(ln(CAST(0.85 AS DOUBLE) / CAST(0.02 AS DOUBLE)) AS DECIMAL(18,9))
        |      ELSE CAST(ln((1 - CAST(0.85 AS DOUBLE)) / (1 - CAST(0.02 AS DOUBLE))) AS DECIMAL(18,9)) END)
        |  + (CASE WHEN a.p_size IS NOT DISTINCT FROM b.p_size
        |      THEN CAST(ln(CAST(0.8 AS DOUBLE) / CAST(0.02 AS DOUBLE)) AS DECIMAL(18,9))
        |      ELSE CAST(ln((1 - CAST(0.8 AS DOUBLE)) / (1 - CAST(0.02 AS DOUBLE))) AS DECIMAL(18,9)) END)
        |  AS DOUBLE) AS score
        |FROM pairs p JOIN part a ON a.p_partkey = p.id_a
        |  JOIN part b ON b.p_partkey = p.id_b
        |ORDER BY p.id_a, p.id_b""".stripMargin,
    "q182_split_leakage" ->
      // q44's split expression over the planted-copy corpus; md5(text) is
      // the same lowercase hex both engines
      """WITH e AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 2000000, text FROM documents WHERE doc_id < 40),
        |s AS (SELECT text, substring(md5(CAST(doc_id AS VARCHAR)), 1, 2) AS b FROM e),
        |c AS (SELECT md5(text) AS text_hash,
        |    COUNT(CASE WHEN b < 'cd' THEN 1 END) AS n_train,
        |    COUNT(CASE WHEN b >= 'cd' AND b < 'e6' THEN 1 END) AS n_val,
        |    COUNT(CASE WHEN b >= 'e6' THEN 1 END) AS n_test
        |  FROM s GROUP BY 1)
        |SELECT text_hash, n_train, n_val, n_test FROM c
        |WHERE (n_train > 0 AND (n_val > 0 OR n_test > 0)) OR (n_val > 0 AND n_test > 0)
        |ORDER BY text_hash""".stripMargin,
    "q183_label_noise" ->
      // ranks via q64's exact cosine recipe (double accumulation — a float
      // list_cosine_similarity could ulp-flip a near-tie across 500 queries);
      // majority = (votes DESC, label) first row, the struct-max's order
      """WITH nn AS (
        |  SELECT a.vec_id AS q, b.label AS n_label,
        |    row_number() OVER (PARTITION BY a.vec_id ORDER BY
        |      (list_sum(list_transform(list_zip(a.embedding, b.embedding),
        |           p -> CAST(p[1] * p[2] AS DOUBLE)))
        |       / (sqrt(list_sum(list_transform(a.embedding, x -> CAST(x * x AS DOUBLE))))
        |        * sqrt(list_sum(list_transform(b.embedding, x -> CAST(x * x AS DOUBLE))))))
        |      DESC, b.vec_id) AS rk
        |  FROM embeddings a JOIN embeddings b ON b.vec_id <> a.vec_id
        |  QUALIFY rk <= 5),
        |v AS (SELECT q, n_label, COUNT(*) AS votes FROM nn GROUP BY 1, 2),
        |m AS (SELECT q, n_label, votes,
        |    row_number() OVER (PARTITION BY q ORDER BY votes DESC, n_label) AS mr FROM v)
        |SELECT m.q AS vec_id, CAST(e.label AS BIGINT) AS label,
        |  CAST(m.n_label AS BIGINT) AS majority_label, m.votes,
        |  m.n_label <> e.label AS flagged
        |FROM m JOIN embeddings e ON e.vec_id = m.q
        |WHERE mr = 1 ORDER BY vec_id""".stripMargin,
    "q184_walk_forward" ->
      // fold cuts from global min/max epoch seconds; `//` is bigint floor
      // division = Scala's long `/` on non-negative spans
      """WITH b AS (SELECT CAST(floor(epoch(min(ts))) AS BIGINT) AS mn,
        |    CAST(floor(epoch(max(ts))) AS BIGINT) AS mx FROM events),
        |f AS (SELECT i.fold, b.mn + (b.mx - b.mn) * i.fold // 5 AS lo,
        |    CASE WHEN i.fold = 4 THEN b.mx + 1
        |         ELSE b.mn + (b.mx - b.mn) * (i.fold + 1) // 5 END AS hi
        |  FROM b, (SELECT unnest(range(1, 5)) AS fold) i),
        |a AS (SELECT f.fold,
        |    CASE WHEN e.es < f.lo THEN 'train'
        |         WHEN e.es < f.lo + 3600 THEN 'purged'
        |         WHEN e.es < f.hi THEN 'test' END AS split,
        |    e.user_id, e.es
        |  FROM (SELECT CAST(floor(epoch(ts)) AS BIGINT) AS es, user_id
        |        FROM events) e, f)
        |SELECT CAST(fold AS INTEGER) AS fold, split, COUNT(*) AS n_rows,
        |  COUNT(DISTINCT user_id) AS n_actors,
        |  min(es) AS min_epoch, max(es) AS max_epoch
        |FROM a WHERE split IS NOT NULL
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q185_anova" ->
      // exact decimal power sums; each group's S1²/n term quantized
      // DECIMAL(28,9) before the order-independent sum; F a fixed chain
      """WITH g AS (SELECT l_returnflag AS grp, COUNT(*) AS n,
        |    SUM(CAST(l_quantity AS DECIMAL(18,2))) AS s1,
        |    SUM(CAST(l_quantity AS DECIMAL(18,2))
        |      * CAST(l_quantity AS DECIMAL(18,2))) AS s2
        |  FROM lineitem GROUP BY 1),
        |q AS (SELECT n, s1, s2,
        |    CAST(CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)
        |      AS DECIMAL(28,9)) AS term FROM g),
        |t AS (SELECT COUNT(*) AS k, CAST(SUM(n) AS BIGINT) AS n,
        |    CAST(SUM(s1) AS DOUBLE) AS t1d, CAST(SUM(s2) AS DOUBLE) AS t2d,
        |    CAST(SUM(term) AS DOUBLE) AS qsumd FROM q),
        |s AS (SELECT k, n,
        |    qsumd - t1d * t1d / CAST(n AS DOUBLE) AS ss_between,
        |    t2d - qsumd AS ss_within FROM t)
        |SELECT k, n, ss_between, ss_within,
        |  ss_between / CAST(k - 1 AS DOUBLE)
        |    / (ss_within / CAST(n - k AS DOUBLE)) AS f_stat
        |FROM s""".stripMargin,
    "q186_pareto" ->
      // brute-force dominance anti-join is the oracle's luxury (part is
      // small at sf0.01); the engine runs the prefix-max scan instead
      """SELECT p_partkey, CAST(p_size AS BIGINT) AS p_size,
        |  CAST(p_retailprice * 100 AS BIGINT) AS cents
        |FROM part a
        |WHERE NOT EXISTS (SELECT 1 FROM part b
        |  WHERE b.p_size >= a.p_size AND b.p_retailprice >= a.p_retailprice
        |    AND (b.p_size > a.p_size OR b.p_retailprice > a.p_retailprice))
        |ORDER BY p_size DESC, p_partkey""".stripMargin,
    "q187_woe_iv" ->
      // q142's exact-binning core (goods anchor the edges, +0.5 smoothing,
      // DECIMAL(28,9) quantization); woe/iv_term re-emit the same chains
      """WITH e AS (SELECT CAST(o_totalprice AS DOUBLE) AS v FROM orders
        |           WHERE o_orderstatus <> 'F'),
        |a AS (SELECT CAST(o_totalprice AS DOUBLE) AS v FROM orders
        |      WHERE o_orderstatus = 'F'),
        |s AS (SELECT min(v) AS lo, (max(v) - min(v)) / 10 AS w FROM e),
        |eb AS (SELECT LEAST(9, GREATEST(0, CAST(FLOOR((v - lo) / w) AS INT))) AS bin,
        |              COUNT(*) AS en FROM e, s GROUP BY 1),
        |ab AS (SELECT LEAST(9, GREATEST(0, CAST(FLOOR((v - lo) / w) AS INT))) AS bin,
        |              COUNT(*) AS an FROM a, s GROUP BY 1),
        |cells AS (SELECT CAST(r.range AS INT) AS bin,
        |                 COALESCE(en, 0) AS n_good, COALESCE(an, 0) AS n_bad
        |          FROM range(0, 10) r
        |          LEFT JOIN eb ON eb.bin = r.range LEFT JOIN ab ON ab.bin = r.range),
        |tot AS (SELECT SUM(n_good) AS ne, SUM(n_bad) AS na FROM cells),
        |terms AS (SELECT bin, n_good, n_bad,
        |    (CAST(n_good AS DOUBLE) + CAST(0.5 AS DOUBLE)) / (CAST(ne AS DOUBLE) + CAST(5 AS DOUBLE)) AS p,
        |    (CAST(n_bad AS DOUBLE) + CAST(0.5 AS DOUBLE)) / (CAST(na AS DOUBLE) + CAST(5 AS DOUBLE)) AS q
        |  FROM cells, tot),
        |iv AS (SELECT CAST(SUM(CAST((p - q) * ln(p / q) AS DECIMAL(28,9))) AS DOUBLE) AS iv
        |       FROM terms)
        |SELECT t.bin, CAST(t.n_good AS BIGINT) AS n_good,
        |  CAST(t.n_bad AS BIGINT) AS n_bad,
        |  CAST(CAST(ln(p / q) AS DECIMAL(28,9)) AS DOUBLE) AS woe,
        |  CAST(CAST((p - q) * ln(p / q) AS DECIMAL(28,9)) AS DOUBLE) AS iv_term,
        |  iv.iv
        |FROM terms t, iv ORDER BY t.bin""".stripMargin,
    "q188_silhouette" ->
      // centroids via q65's exact recipe (avg quantized DECIMAL(18,4)),
      // cosine via q183's double chain with dims folded in list order,
      // each s quantized DECIMAL(18,9) before the per-label mean
      """WITH cent AS (
        |  SELECT c_lbl, list(c ORDER BY dim) AS cv FROM (
        |    SELECT label AS c_lbl, u[2] AS dim,
        |      CAST(CAST(AVG(CAST(u[1] AS DOUBLE)) AS DECIMAL(18,4)) AS DOUBLE) AS c
        |    FROM (SELECT label, unnest(list_zip(embedding, range(1, len(embedding) + 1))) AS u
        |          FROM embeddings)
        |    GROUP BY 1, 2) GROUP BY 1),
        |pair AS (
        |  SELECT e.vec_id, e.label, c.c_lbl,
        |    1.0 - (list_sum(list_transform(list_zip(e.embedding, c.cv),
        |             p -> CAST(p[1] AS DOUBLE) * p[2]))
        |      / (sqrt(list_sum(list_transform(e.embedding,
        |             x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
        |       * sqrt(list_sum(list_transform(c.cv, x -> x * x))))) AS d
        |  FROM embeddings e CROSS JOIN cent c),
        |ab AS (SELECT vec_id, label,
        |    MAX(CASE WHEN c_lbl = label THEN d END) AS a,
        |    MIN(CASE WHEN c_lbl <> label THEN d END) AS b
        |  FROM pair GROUP BY 1, 2),
        |sq AS (SELECT label, CAST(CASE WHEN GREATEST(a, b) = 0 THEN 0
        |    ELSE (b - a) / GREATEST(a, b) END AS DECIMAL(18,9)) AS s FROM ab)
        |SELECT CAST(label AS BIGINT) AS label, COUNT(*) AS n_vectors,
        |  CAST(SUM(s) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS mean_silhouette
        |FROM sq GROUP BY 1 ORDER BY 1""".stripMargin,
    "q189_keyset_page" ->
      // the seek predicate the engine runs; LIMIT picks the identical rows
      // because the cursor tuple ends in the unique o_orderkey
      """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
        |  strftime(CAST(o_orderdate AS DATE), '%Y-%m-%d') AS o_date
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1998-01-01 00:00:00'
        |  AND (o_orderdate > TIMESTAMP '1998-01-01 00:00:00'
        |       OR (o_orderdate = TIMESTAMP '1998-01-01 00:00:00' AND o_orderkey > 7500))
        |ORDER BY o_orderdate, o_orderkey LIMIT 50""".stripMargin,
    "q252_isotonic" ->
      // same bin → prefix-sum → interval-average lattice; DECIMAL(18,9)
      // interval averages make the min/max comparisons engine-exact
      """WITH cells AS (SELECT CAST(least(15, greatest(0, CAST(floor((o_totalprice - 0.0) / 37500.0) AS INT))) AS INT) AS bin,
        |        count(*) AS n, COUNT(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS sy
        |      FROM orders GROUP BY 1),
        |pre AS (SELECT bin, n, sy, SUM(n) OVER w AS cn, SUM(sy) OVER w AS csy FROM cells
        |        WINDOW w AS (ORDER BY bin ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |ivals AS (SELECT s.bin AS i, e.bin AS j,
        |    CAST(CAST(e.csy - (s.csy - s.sy) AS DOUBLE) / CAST(e.cn - (s.cn - s.n) AS DOUBLE) AS DECIMAL(18,9)) AS a
        |  FROM pre s JOIN pre e ON s.bin <= e.bin),
        |mi AS (SELECT c.bin, c.n, c.sy, v.i, min(v.a) AS mi FROM cells c
        |       JOIN ivals v ON v.i <= c.bin AND v.j >= c.bin GROUP BY 1, 2, 3, 4),
        |fit AS (SELECT bin, n, sy, max(mi) AS fit FROM mi GROUP BY 1, 2, 3)
        |SELECT bin, n,
        |  CAST(CAST(CAST(sy AS DOUBLE) / CAST(n AS DOUBLE) AS DECIMAL(18,6)) AS DOUBLE) AS mean_y,
        |  CAST(CAST(CAST(fit AS DOUBLE) AS DECIMAL(18,6)) AS DOUBLE) AS fitted
        |FROM fit ORDER BY bin""".stripMargin,
    "q253_conformal" ->
      // identical md5 split, per-group decimal mean, rank-k residual
      """WITH t AS (SELECT o_orderkey AS id, o_orderpriority AS grp,
        |        CAST(o_totalprice AS DECIMAL(18,2)) AS y,
        |        CAST('0x' || substring(md5('conf:' || CAST(o_orderkey AS VARCHAR)), 1, 8) AS BIGINT) % 100 AS b
        |      FROM orders),
        |tt AS (SELECT *, CASE WHEN b < 60 THEN 'train' WHEN b < 80 THEN 'cal' ELSE 'test' END AS split FROM t),
        |model AS (SELECT grp, CAST(CAST(SUM(y) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS DECIMAL(18,6)) AS yhat_g
        |          FROM tt WHERE split = 'train' GROUP BY 1),
        |fb AS (SELECT CAST(CAST(SUM(y) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS DECIMAL(18,6)) AS yhat_all
        |       FROM tt WHERE split = 'train'),
        |cal AS (SELECT tt.id, abs(tt.y - coalesce(m.yhat_g, fb.yhat_all)) AS r
        |        FROM tt LEFT JOIN model m USING (grp) CROSS JOIN fb WHERE split = 'cal'),
        |nk AS (SELECT count(*) AS n FROM cal),
        |q AS (SELECT r AS qhat FROM (SELECT id, r, row_number() OVER (ORDER BY r, id) AS rnk FROM cal) x
        |      CROSS JOIN nk WHERE rnk = least(nk.n, CAST(ceil(0.9 * (nk.n + 1)) AS BIGINT)))
        |SELECT tt.id AS o_orderkey, tt.grp,
        |  CAST(coalesce(m.yhat_g, fb.yhat_all) AS DOUBLE) AS yhat,
        |  CAST(coalesce(m.yhat_g, fb.yhat_all) - q.qhat AS DOUBLE) AS lo,
        |  CAST(coalesce(m.yhat_g, fb.yhat_all) + q.qhat AS DOUBLE) AS hi,
        |  CASE WHEN tt.y >= coalesce(m.yhat_g, fb.yhat_all) - q.qhat
        |        AND tt.y <= coalesce(m.yhat_g, fb.yhat_all) + q.qhat THEN 1 ELSE 0 END AS covered
        |FROM tt LEFT JOIN model m USING (grp) CROSS JOIN fb CROSS JOIN q
        |WHERE split = 'test' ORDER BY o_orderkey""".stripMargin,
    "q254_heaps" ->
      // first-doc attribution → cumulative axes → q145's OLS recipe
      """WITH pd AS (SELECT doc_id, len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS n_tok FROM documents),
        |ft AS (SELECT tok, min(doc_id) AS first_doc FROM
        |        (SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS tok FROM documents)
        |       GROUP BY 1),
        |nv AS (SELECT first_doc AS doc_id, count(*) AS v_new FROM ft GROUP BY 1),
        |sp AS (SELECT pd.doc_id, pd.n_tok, coalesce(nv.v_new, 0) AS v_new FROM pd LEFT JOIN nv USING (doc_id)),
        |cum AS (SELECT doc_id, SUM(n_tok) OVER w AS cn, SUM(v_new) OVER w AS cv FROM sp
        |        WINDOW w AS (ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |d AS (SELECT CAST(ln(CAST(cn AS DOUBLE)) AS DECIMAL(18,2)) AS x,
        |             CAST(ln(CAST(cv AS DOUBLE)) AS DECIMAL(18,2)) AS y FROM cum WHERE cn > 0 AND cv > 0),
        |g AS (SELECT COUNT(*) AS n, CAST(SUM(x) AS DECIMAL(24,2)) AS sx, CAST(SUM(y) AS DECIMAL(24,2)) AS sy,
        |        CAST(SUM(x * y) AS DECIMAL(24,4)) AS sxy, CAST(SUM(x * x) AS DECIMAL(24,4)) AS sxx FROM d)
        |SELECT n AS n_points,
        |  CAST(CAST(CASE WHEN CAST(n * sxx - sx * sx AS DOUBLE) = 0 THEN NULL
        |    ELSE CAST(n * sxy - sx * sy AS DOUBLE) / CAST(n * sxx - sx * sx AS DOUBLE) END
        |    AS DECIMAL(18,6)) AS DOUBLE) AS beta
        |FROM g""".stripMargin,
    "q288_vocab_coverage" ->
      // same tokenization; exact frequency-of-frequencies; mirrored
      // Chao1 / Good–Turing chains
      """WITH t AS (SELECT unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS tok FROM documents),
        |c AS (SELECT tok, count(*) AS c FROM t GROUP BY 1),
        |g AS (SELECT COUNT(*) AS s, SUM(c) AS n,
        |    COUNT(CASE WHEN c = 1 THEN 1 END) AS f1, COUNT(CASE WHEN c = 2 THEN 1 END) AS f2 FROM c)
        |SELECT CAST(n AS BIGINT) AS n_tokens, CAST(s AS BIGINT) AS n_types,
        |  CAST(f1 AS BIGINT) AS singletons, CAST(f2 AS BIGINT) AS doubletons,
        |  CAST(CAST(CASE WHEN f2 > 0 THEN CAST(s AS DOUBLE) + CAST(f1 AS DOUBLE) * CAST(f1 AS DOUBLE) / (2 * CAST(f2 AS DOUBLE))
        |    ELSE CAST(s AS DOUBLE) + CAST(f1 AS DOUBLE) * (CAST(f1 AS DOUBLE) - 1) / 2 END AS DECIMAL(18,6)) AS DOUBLE) AS chao1_richness,
        |  CAST(CAST(CAST(f1 AS DOUBLE) / CAST(n AS DOUBLE) AS DECIMAL(18,9)) AS DOUBLE) AS unseen_mass
        |FROM g""".stripMargin,
    "q289_kruskal" ->
      // same distinct-value collapse as q255: doubled average ranks stay
      // integers, per-group rank sums HUGEINT-exact, H one double chain
      """WITH cells AS (SELECT CAST(o_totalprice AS DECIMAL(18,2)) AS v,
        |    o_orderpriority AS grp, COUNT(*) AS cnt FROM orders GROUP BY 1, 2),
        |margin AS (SELECT v, SUM(cnt) AS cntv FROM cells GROUP BY 1),
        |r AS (SELECT v, cntv,
        |    SUM(cntv) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - cntv AS cumb
        |  FROM margin),
        |rd AS (SELECT v, 2 * cumb + cntv + 1 AS dr FROM r),
        |pg AS (SELECT grp, SUM(cnt) AS n, SUM(CAST(cnt AS HUGEINT) * rd.dr) AS dr2
        |  FROM cells JOIN rd USING (v) GROUP BY 1),
        |ties AS (SELECT SUM(CAST(cntv AS HUGEINT) * cntv * cntv - cntv) AS tie3,
        |    SUM(cntv) AS ntot FROM margin),
        |terms AS (SELECT COUNT(*) AS k,
        |    CAST(SUM(CAST((CAST(dr2 AS DOUBLE) / 2) * (CAST(dr2 AS DOUBLE) / 2)
        |      / CAST(n AS DOUBLE) AS DECIMAL(38,6))) AS DOUBLE) AS qsum FROM pg),
        |g AS (SELECT k, qsum, CAST(ntot AS DOUBLE) AS nd, CAST(tie3 AS DOUBLE) AS t3
        |  FROM terms CROSS JOIN ties),
        |hh AS (SELECT k, 12 / (nd * (nd + 1)) * qsum - 3 * (nd + 1) AS hv,
        |    1 - t3 / (nd * nd * nd - nd) AS c FROM g)
        |SELECT grp, CAST(n AS BIGINT) AS n, CAST(dr2 AS DOUBLE) / 2 AS rank_sum,
        |  CAST(k AS BIGINT) AS k, CAST(CAST(hv AS DECIMAL(18,9)) AS DOUBLE) AS h,
        |  CASE WHEN c > 0 THEN CAST(CAST(hv / c AS DECIMAL(18,9)) AS DOUBLE) END AS h_corrected
        |FROM pg CROSS JOIN hh ORDER BY grp""".stripMargin,
    "q290_jarque_bera" ->
      // HUGEINT power sums; central moments in the SAME left-assoc double
      // chain; JB from the raw (unquantized) skew/kurt exactly as Spark
      """WITH g AS (SELECT l_returnflag AS grp, COUNT(*) AS n,
        |    SUM(CAST(l_quantity AS HUGEINT)) AS s1,
        |    SUM(CAST(l_quantity AS HUGEINT) * CAST(l_quantity AS HUGEINT)) AS s2,
        |    SUM(CAST(l_quantity AS HUGEINT) * CAST(l_quantity AS HUGEINT) * CAST(l_quantity AS HUGEINT)) AS s3,
        |    SUM(CAST(l_quantity AS HUGEINT) * CAST(l_quantity AS HUGEINT) * CAST(l_quantity AS HUGEINT) * CAST(l_quantity AS HUGEINT)) AS s4
        |  FROM lineitem GROUP BY 1),
        |m AS (SELECT grp, n,
        |    CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE) AS mu,
        |    CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE) AS r2,
        |    CAST(s3 AS DOUBLE) / CAST(n AS DOUBLE) AS r3,
        |    CAST(s4 AS DOUBLE) / CAST(n AS DOUBLE) AS r4 FROM g),
        |mm AS (SELECT grp, n, mu,
        |    r2 - mu * mu AS m2,
        |    r3 - 3 * mu * r2 + 2 * mu * mu * mu AS m3,
        |    r4 - 4 * mu * r3 + 6 * mu * mu * r2 - 3 * mu * mu * mu * mu AS m4
        |  FROM m),
        |sk AS (SELECT grp, n, mu, m2, m3 / (m2 * sqrt(m2)) AS skew, m4 / (m2 * m2) AS kurt FROM mm)
        |SELECT grp, CAST(n AS BIGINT) AS n,
        |  CAST(CAST(mu AS DECIMAL(18,6)) AS DOUBLE) AS mean,
        |  CASE WHEN m2 > 0 THEN CAST(CAST(skew AS DECIMAL(18,9)) AS DOUBLE) END AS skewness,
        |  CASE WHEN m2 > 0 THEN CAST(CAST(kurt AS DECIMAL(18,9)) AS DOUBLE) END AS kurtosis,
        |  CASE WHEN m2 > 0 THEN CAST(CAST(CAST(n AS DOUBLE) / 6 * (skew * skew + (kurt - 3) * (kurt - 3) / 4)
        |    AS DECIMAL(18,9)) AS DOUBLE) END AS jb_stat
        |FROM sk ORDER BY grp""".stripMargin,
    "q291_bartlett" ->
      // per-group exact (n, Σx, Σx²); (n−1)·ln s² quantized DECIMAL(28,9)
      // BEFORE the k-term sum; T and the Box correction mirrored verbatim
      """WITH g AS (SELECT o_orderpriority AS grp, COUNT(*) AS n,
        |    SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS HUGEINT)) AS s1,
        |    SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS HUGEINT)
        |      * CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS HUGEINT)) AS s2
        |  FROM orders GROUP BY 1 HAVING COUNT(*) >= 2),
        |ss AS (SELECT n, CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE) AS ssv FROM g),
        |t AS (SELECT COUNT(*) AS k, SUM(n) AS ntot,
        |    CAST(SUM(CAST(ssv AS DECIMAL(38,0))) AS DOUBLE) AS pooledss,
        |    CAST(SUM(CAST((CAST(n AS DOUBLE) - 1) * ln(ssv / (CAST(n AS DOUBLE) - 1)) AS DECIMAL(28,9))) AS DOUBLE) AS sumln,
        |    CAST(SUM(CAST(1 / (CAST(n AS DOUBLE) - 1) AS DECIMAL(18,12))) AS DOUBLE) AS suminv
        |  FROM ss),
        |f AS (SELECT k, ntot, pooledss, sumln, suminv,
        |    CAST(ntot - k AS DOUBLE) AS nmk FROM t)
        |SELECT CAST(k AS BIGINT) AS k, CAST(ntot AS BIGINT) AS n,
        |  CAST(CAST(pooledss / nmk AS DECIMAL(28,6)) AS DOUBLE) AS pooled_var,
        |  CASE WHEN k >= 2 AND pooledss > 0 THEN
        |    CAST(CAST((nmk * ln(pooledss / nmk) - sumln)
        |      / (1 + (suminv - 1 / nmk) / (3 * (CAST(k AS DOUBLE) - 1)))
        |      AS DECIMAL(18,9)) AS DOUBLE) END AS t_stat
        |FROM f""".stripMargin,
    "q292_ljung_box" ->
      // q159's acf verbatim, then the portmanteau: ρ²/(n−h) quantized
      // DECIMAL(28,12) before the cumulative lag window; n = series length
      """WITH d AS (SELECT CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS t, COUNT(*) AS x
        |           FROM events GROUP BY 1),
        |nn AS (SELECT COUNT(*) AS n FROM d),
        |st AS (SELECT COUNT(*) AS n, SUM(CAST(x AS DECIMAL(19,0))) AS sx,
        |         SUM(CAST(x AS DECIMAL(19,0)) * CAST(x AS DECIMAL(19,0))) AS sxx FROM d),
        |m AS (SELECT CAST(sx AS DOUBLE)/CAST(n AS DOUBLE) AS mu,
        |        CAST(sxx AS DOUBLE) - CAST(n AS DOUBLE)
        |          * (CAST(sx AS DOUBLE)/CAST(n AS DOUBLE))
        |          * (CAST(sx AS DOUBLE)/CAST(n AS DOUBLE)) AS den FROM st),
        |p AS (SELECT l.lag, d1.x AS x0, d2.x AS xh
        |      FROM d d1 CROSS JOIN (SELECT CAST(r AS BIGINT) AS lag FROM range(1,8) t(r)) l
        |      JOIN d d2 ON d2.t = d1.t + l.lag),
        |g AS (SELECT lag, den, COUNT(*) AS n_pairs,
        |        CAST(SUM(CAST((CAST(x0 AS DOUBLE) - mu) * (CAST(xh AS DOUBLE) - mu)
        |          AS DECIMAL(28,9))) AS DOUBLE) AS num
        |      FROM p CROSS JOIN m GROUP BY lag, den),
        |rho AS (SELECT lag,
        |    CASE WHEN den > 0 THEN CAST(CAST(num/den AS DECIMAL(18,9)) AS DOUBLE) END AS acf
        |  FROM g),
        |lb AS (SELECT lag, n, acf,
        |    CAST(acf * acf / (CAST(n AS DOUBLE) - CAST(lag AS DOUBLE)) AS DECIMAL(28,12)) AS term
        |  FROM rho CROSS JOIN nn)
        |SELECT lag, CAST(n AS BIGINT) AS n, acf,
        |  CAST(CAST(CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 2)
        |    * CAST(SUM(term) OVER (ORDER BY lag ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
        |    AS DECIMAL(18,9)) AS DOUBLE) AS q_stat
        |FROM lb ORDER BY lag""".stripMargin,
    "q293_odds_ratio" ->
      // four exact cells; Haldane +½ odds ratio, Wald CI — one mirrored
      // 1-row double chain (ln/sqrt/exp with the same literal z)
      """WITH c AS (SELECT
        |    SUM(CASE WHEN o_orderpriority = '1-URGENT' AND o_orderstatus = 'F' THEN 1 ELSE 0 END) AS n11,
        |    SUM(CASE WHEN o_orderpriority = '1-URGENT' AND o_orderstatus <> 'F' THEN 1 ELSE 0 END) AS n10,
        |    SUM(CASE WHEN o_orderpriority <> '1-URGENT' AND o_orderstatus = 'F' THEN 1 ELSE 0 END) AS n01,
        |    SUM(CASE WHEN o_orderpriority <> '1-URGENT' AND o_orderstatus <> 'F' THEN 1 ELSE 0 END) AS n00
        |  FROM orders),
        |h AS (SELECT n11, n10, n01, n00,
        |    (CAST(n11 AS DOUBLE) + 0.5) * (CAST(n00 AS DOUBLE) + 0.5)
        |      / ((CAST(n10 AS DOUBLE) + 0.5) * (CAST(n01 AS DOUBLE) + 0.5)) AS orr,
        |    sqrt(1 / (CAST(n11 AS DOUBLE) + 0.5) + 1 / (CAST(n10 AS DOUBLE) + 0.5)
        |      + 1 / (CAST(n01 AS DOUBLE) + 0.5) + 1 / (CAST(n00 AS DOUBLE) + 0.5)) AS se
        |  FROM c)
        |SELECT CAST(n11 AS BIGINT) AS n11, CAST(n10 AS BIGINT) AS n10,
        |  CAST(n01 AS BIGINT) AS n01, CAST(n00 AS BIGINT) AS n00,
        |  CAST(CAST(orr AS DECIMAL(18,6)) AS DOUBLE) AS odds_ratio,
        |  CAST(CAST(ln(orr) AS DECIMAL(18,9)) AS DOUBLE) AS log_or,
        |  CAST(CAST(exp(ln(orr) - 1.959964 * se) AS DECIMAL(18,6)) AS DOUBLE) AS ci_lo,
        |  CAST(CAST(exp(ln(orr) + 1.959964 * se) AS DECIMAL(18,6)) AS DOUBLE) AS ci_hi
        |FROM h""".stripMargin,
    "q294_wasserstein" ->
      // distinct-value margin; |cuma·nb − cumb·na| re-typed DECIMAL(20,0)
      // so ×gap stays in precision 38 in both engines; ONE final division
      """WITH cells AS (SELECT CAST(o_totalprice AS DECIMAL(18,2)) AS v,
        |    COUNT(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS na,
        |    COUNT(CASE WHEN o_orderstatus = 'O' THEN 1 END) AS nb
        |  FROM orders WHERE o_orderstatus IN ('F', 'O') GROUP BY 1),
        |tot AS (SELECT SUM(na) AS natot, SUM(nb) AS nbtot FROM cells),
        |st AS (SELECT v,
        |    SUM(na) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cuma,
        |    SUM(nb) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumb,
        |    LEAD(v) OVER (ORDER BY v) - v AS gap
        |  FROM cells),
        |a AS (SELECT SUM(CAST(abs(CAST(cuma AS HUGEINT) * nbtot
        |      - CAST(cumb AS HUGEINT) * natot) AS DECIMAL(20,0)) * gap) AS num
        |  FROM st CROSS JOIN tot WHERE gap IS NOT NULL)
        |SELECT CAST(natot AS BIGINT) AS na, CAST(nbtot AS BIGINT) AS nb,
        |  CAST(CAST(CAST(num AS DOUBLE) / (CAST(natot AS DOUBLE) * CAST(nbtot AS DOUBLE))
        |    AS DECIMAL(18,6)) AS DOUBLE) AS w1
        |FROM a CROSS JOIN tot""".stripMargin,
    "q295_grubbs" ->
      // exact (n, Σx, Σx², min, max); sample sd; extreme = the farther
      // tail (ties → min); G one mirrored chain
      """WITH g AS (SELECT o_orderpriority AS grp, COUNT(*) AS n,
        |    SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS s1,
        |    SUM(CAST(o_totalprice AS DECIMAL(18,2)) * CAST(o_totalprice AS DECIMAL(18,2))) AS s2,
        |    MIN(CAST(o_totalprice AS DECIMAL(18,2))) AS xmin,
        |    MAX(CAST(o_totalprice AS DECIMAL(18,2))) AS xmax
        |  FROM orders GROUP BY 1 HAVING COUNT(*) >= 3),
        |m AS (SELECT grp, n, xmin, xmax,
        |    CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE) AS mu,
        |    sqrt((CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
        |      / (CAST(n AS DOUBLE) - 1)) AS sd
        |  FROM g),
        |d AS (SELECT grp, n, mu, sd,
        |    mu - CAST(xmin AS DOUBLE) AS devlo, CAST(xmax AS DOUBLE) - mu AS devhi,
        |    xmin, xmax FROM m)
        |SELECT grp, CAST(n AS BIGINT) AS n,
        |  CAST(CAST(mu AS DECIMAL(18,6)) AS DOUBLE) AS mean,
        |  CAST(CAST(sd AS DECIMAL(18,6)) AS DOUBLE) AS sd,
        |  CAST(CASE WHEN devlo >= devhi THEN xmin ELSE xmax END AS DOUBLE) AS extreme,
        |  CASE WHEN sd > 0 THEN CAST(CAST(greatest(devlo, devhi) / sd AS DECIMAL(18,9)) AS DOUBLE) END AS g_stat
        |FROM d ORDER BY grp""".stripMargin,
    "q296_effect_size" ->
      // one pass to both cohorts' exact moments; pooled sd; d and the
      // Hedges small-sample factor mirrored
      """WITH c AS (SELECT
        |    SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS na,
        |    SUM(CASE WHEN o_orderstatus = 'F' THEN CAST(o_totalprice AS DECIMAL(18,2)) ELSE 0 END) AS sa1,
        |    SUM(CASE WHEN o_orderstatus = 'F' THEN CAST(o_totalprice AS DECIMAL(18,2)) * CAST(o_totalprice AS DECIMAL(18,2)) ELSE 0 END) AS sa2,
        |    SUM(CASE WHEN o_orderstatus <> 'F' THEN 1 ELSE 0 END) AS nb,
        |    SUM(CASE WHEN o_orderstatus <> 'F' THEN CAST(o_totalprice AS DECIMAL(18,2)) ELSE 0 END) AS sb1,
        |    SUM(CASE WHEN o_orderstatus <> 'F' THEN CAST(o_totalprice AS DECIMAL(18,2)) * CAST(o_totalprice AS DECIMAL(18,2)) ELSE 0 END) AS sb2
        |  FROM orders WHERE o_orderstatus IN ('F', 'O')),
        |m AS (SELECT na, nb,
        |    CAST(sa1 AS DOUBLE) / CAST(na AS DOUBLE) AS mua,
        |    CAST(sb1 AS DOUBLE) / CAST(nb AS DOUBLE) AS mub,
        |    CAST(sa2 AS DOUBLE) - CAST(sa1 AS DOUBLE) * (CAST(sa1 AS DOUBLE) / CAST(na AS DOUBLE)) AS ssa,
        |    CAST(sb2 AS DOUBLE) - CAST(sb1 AS DOUBLE) * (CAST(sb1 AS DOUBLE) / CAST(nb AS DOUBLE)) AS ssb
        |  FROM c),
        |s AS (SELECT na, nb, mua, mub,
        |    sqrt((ssa + ssb) / (CAST(na AS DOUBLE) + CAST(nb AS DOUBLE) - 2)) AS sp
        |  FROM m),
        |d AS (SELECT na, nb, mua, mub, sp, (mua - mub) / sp AS dd FROM s)
        |SELECT CAST(na AS BIGINT) AS na, CAST(nb AS BIGINT) AS nb,
        |  CAST(CAST(mua AS DECIMAL(18,6)) AS DOUBLE) AS mean_a,
        |  CAST(CAST(mub AS DECIMAL(18,6)) AS DOUBLE) AS mean_b,
        |  CASE WHEN sp > 0 THEN CAST(CAST(dd AS DECIMAL(18,9)) AS DOUBLE) END AS cohen_d,
        |  CASE WHEN sp > 0 THEN CAST(CAST(dd * (1 - 3 / (4 * (CAST(na AS DOUBLE) + CAST(nb AS DOUBLE)) - 9))
        |    AS DECIMAL(18,9)) AS DOUBLE) END AS hedges_g
        |FROM d""".stripMargin,
    "q297_forecast_eval" ->
      // integer errors vs the lag-12 seasonal naive; Σ|e|, Σe² HUGEINT;
      // SMAPE terms DECIMAL(18,12) pre-sum; MASE cross-multiplied exact
      """WITH s AS (SELECT o_orderpriority AS grp,
        |    year(o_orderdate) * 12 + month(o_orderdate) AS m, COUNT(*) AS x
        |  FROM orders GROUP BY 1, 2),
        |l AS (SELECT grp, m, x,
        |    lag(x, 12) OVER (PARTITION BY grp ORDER BY m) AS f,
        |    abs(x - lag(x, 1) OVER (PARTITION BY grp ORDER BY m)) AS d1
        |  FROM s),
        |g AS (SELECT grp,
        |    SUM(CASE WHEN f IS NOT NULL THEN 1 END) AS neval,
        |    SUM(CASE WHEN f IS NOT NULL THEN CAST(abs(x - f) AS HUGEINT) END) AS sae,
        |    SUM(CASE WHEN f IS NOT NULL THEN CAST(x - f AS HUGEINT) * (x - f) END) AS sse,
        |    SUM(CASE WHEN f IS NOT NULL AND abs(x) + abs(f) > 0 THEN
        |      CAST(2 * CAST(abs(x - f) AS DOUBLE) / CAST(abs(x) + abs(f) AS DOUBLE) AS DECIMAL(18,12)) END) AS ssm,
        |    SUM(CASE WHEN d1 IS NOT NULL THEN 1 END) AS n1,
        |    SUM(CASE WHEN d1 IS NOT NULL THEN CAST(d1 AS HUGEINT) END) AS sd1
        |  FROM l GROUP BY 1)
        |SELECT grp, CAST(neval AS BIGINT) AS n_eval,
        |  CAST(CAST(CAST(sae AS DOUBLE) / CAST(neval AS DOUBLE) AS DECIMAL(18,6)) AS DOUBLE) AS mae,
        |  CAST(CAST(sqrt(CAST(sse AS DOUBLE) / CAST(neval AS DOUBLE)) AS DECIMAL(18,6)) AS DOUBLE) AS rmse,
        |  CAST(CAST(CAST(ssm AS DOUBLE) / CAST(neval AS DOUBLE) AS DECIMAL(18,9)) AS DOUBLE) AS smape,
        |  CASE WHEN sd1 > 0 THEN CAST(CAST(CAST(sae * n1 AS DOUBLE) / CAST(sd1 * neval AS DOUBLE)
        |    AS DECIMAL(18,9)) AS DOUBLE) END AS mase
        |FROM g WHERE neval > 0 ORDER BY grp""".stripMargin,
    "q298_pinball" ->
      // train-era per-mille quantiles by integer cross-multiplication over
      // the train margin; per-row loss terms are exact integers
      """WITH base AS (SELECT o_orderpriority AS grp,
        |    CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS y,
        |    o_orderdate < DATE '1997-01-01' AS trn FROM orders),
        |margin AS (SELECT grp, y, COUNT(*) AS nv FROM base WHERE trn GROUP BY 1, 2),
        |cum AS (SELECT grp, y, nv,
        |    SUM(nv) OVER (PARTITION BY grp ORDER BY y ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumw,
        |    SUM(nv) OVER (PARTITION BY grp) AS tw
        |  FROM margin),
        |q AS (SELECT grp, pm, MIN(y) AS q FROM cum
        |  CROSS JOIN (SELECT unnest([100, 500, 900]) AS pm)
        |  WHERE cumw * 1000 >= pm * tw GROUP BY 1, 2),
        |e AS (SELECT b.grp, q.pm, q.q, b.y FROM base b JOIN q ON q.grp = b.grp WHERE NOT b.trn)
        |SELECT grp, pm, CAST(MAX(q) AS BIGINT) AS q_forecast,
        |  CAST(COUNT(*) AS BIGINT) AS n_eval,
        |  CAST(CAST(CAST(SUM(CASE WHEN y >= q THEN CAST(pm AS HUGEINT) * (y - q)
        |      ELSE CAST(1000 - pm AS HUGEINT) * (q - y) END) AS DOUBLE)
        |    / (CAST(COUNT(*) AS DOUBLE) * 1000) AS DECIMAL(18,6)) AS DOUBLE) AS pinball
        |FROM e GROUP BY 1, 2 ORDER BY grp, pm""".stripMargin,
    "q299_adamic_adar" ->
      // q238's wedge recipe, apex weight 1/ln(deg) quantized DECIMAL(18,12)
      // pre-sum; existing edges anti-joined out; top-50 by (score, pair)
      """WITH li AS (SELECT DISTINCT l_orderkey AS k, l_partkey AS p FROM lineitem),
        |ew AS (SELECT x.p AS a, y.p AS b, COUNT(*) AS wt
        |       FROM li x JOIN li y ON x.k = y.k AND x.p < y.p GROUP BY 1, 2),
        |e0 AS (SELECT a, b FROM ew WHERE wt >= 2),
        |e AS (SELECT a, b FROM e0 UNION SELECT b, a FROM e0),
        |deg AS (SELECT a AS n, COUNT(*) AS deg FROM e GROUP BY 1),
        |apex AS (SELECT n, CAST(1 / ln(CAST(deg AS DOUBLE)) AS DECIMAL(18,12)) AS wz
        |  FROM deg WHERE deg BETWEEN 2 AND 10000),
        |w AS (SELECT e1.b AS x, e2.b AS y, COUNT(*) AS n_common, SUM(ap.wz) AS aa
        |      FROM e e1 JOIN e e2 ON e1.a = e2.a AND e1.b < e2.b
        |      JOIN apex ap ON ap.n = e1.a
        |      GROUP BY 1, 2 HAVING COUNT(*) >= 1),
        |cand AS (SELECT w.x, w.y, w.n_common, w.aa FROM w
        |  LEFT JOIN e0 ON e0.a = w.x AND e0.b = w.y WHERE e0.a IS NULL)
        |SELECT x, y, CAST(n_common AS BIGINT) AS n_common, CAST(aa AS DOUBLE) AS aa_score
        |FROM cand ORDER BY aa_score DESC, x, y LIMIT 50""".stripMargin,
    "q300_harmonic" ->
      // labeled recursive walk ≤3 hops from the pinned sources; min dist
      // per (src, node); 1/d quantized DECIMAL(18,12) pre-sum
      """WITH RECURSIVE li AS (SELECT DISTINCT l_orderkey AS k, l_partkey AS p FROM lineitem),
        |e0 AS (SELECT x.p AS a, y.p AS b FROM li x JOIN li y ON x.k = y.k AND x.p < y.p),
        |e AS (SELECT DISTINCT a, b FROM e0 UNION SELECT DISTINCT b, a FROM e0),
        |w(src, node, d) AS (
        |  SELECT CAST(t.s AS BIGINT), CAST(t.s AS BIGINT), 0
        |  FROM (VALUES (1), (2), (3), (4), (5), (6)) AS t(s)
        |  UNION
        |  SELECT w.src, e.b, w.d + 1 FROM w JOIN e ON w.node = e.a WHERE w.d < 3),
        |md AS (SELECT src, node, MIN(d) AS dist FROM w GROUP BY 1, 2)
        |SELECT node, CAST(COUNT(*) AS BIGINT) AS n_reached,
        |  CAST(SUM(CAST(1 / CAST(dist AS DOUBLE) AS DECIMAL(18,12))) AS DOUBLE) AS harmonic
        |FROM md WHERE dist > 0 GROUP BY node ORDER BY node""".stripMargin,
    "q301_t_closeness" ->
      // class × sensitive-margin grid with materialized zero cells; the
      // TV numerator is a sum of exact integer cross-products
      """WITH cells AS (SELECT c_nationkey, CAST(c_mktsegment AS VARCHAR) AS s, COUNT(*) AS n_gs
        |  FROM customer GROUP BY 1, 2),
        |classes AS (SELECT c_nationkey, SUM(n_gs) AS n_g FROM cells GROUP BY 1),
        |margins AS (SELECT s, SUM(n_gs) AS n_s FROM cells GROUP BY 1),
        |tot AS (SELECT SUM(n_s) AS ntot FROM margins),
        |grid AS (SELECT c.c_nationkey, m.s, c.n_g, m.n_s, t.ntot, COALESCE(cl.n_gs, 0) AS n_gs
        |  FROM classes c CROSS JOIN margins m CROSS JOIN tot t
        |  LEFT JOIN cells cl ON cl.c_nationkey = c.c_nationkey AND cl.s = m.s),
        |dev AS (SELECT c_nationkey, MAX(n_g) AS n_g, MAX(ntot) AS ntot,
        |    SUM(abs(CAST(n_gs AS HUGEINT) * ntot - CAST(n_s AS HUGEINT) * n_g)) AS devsum
        |  FROM grid GROUP BY 1),
        |td AS (SELECT c_nationkey, n_g,
        |    CAST(CAST(CAST(devsum AS DOUBLE) / (2 * CAST(n_g AS DOUBLE) * CAST(ntot AS DOUBLE))
        |      AS DECIMAL(18,9)) AS DOUBLE) AS t_distance
        |  FROM dev)
        |SELECT c_nationkey, CAST(n_g AS BIGINT) AS class_size, t_distance,
        |  CASE WHEN t_distance > 0.05 THEN 1 ELSE 0 END AS t_violation
        |FROM td ORDER BY c_nationkey""".stripMargin,
    "q302_rouge" ->
      // clipped n-gram overlap on the planted pairs; F1 = 2·ov/(nc+nr)
      // single divisions of exact integers; len<2 candidates → NULL rouge2
      """WITH p AS (SELECT doc_id + 1000000 AS cand_id, doc_id AS ref_id,
        |    text || ' planted near duplicate tail' AS ctext, text AS rtext
        |  FROM documents WHERE doc_id < 20),
        |ct AS (SELECT cand_id, ref_id, regexp_extract_all(lower(ctext), '[a-z0-9]+') AS toks FROM p),
        |rt AS (SELECT cand_id, ref_id, regexp_extract_all(lower(rtext), '[a-z0-9]+') AS toks FROM p),
        |c1 AS (SELECT cand_id, ref_id, unnest(toks) AS gram FROM ct),
        |r1 AS (SELECT cand_id, ref_id, unnest(toks) AS gram FROM rt),
        |c2 AS (SELECT cand_id, ref_id, toks[i] || ' ' || toks[i + 1] AS gram
        |  FROM (SELECT cand_id, ref_id, toks, unnest(generate_series(1, len(toks) - 1)) AS i FROM ct WHERE len(toks) >= 2)),
        |r2 AS (SELECT cand_id, ref_id, toks[i] || ' ' || toks[i + 1] AS gram
        |  FROM (SELECT cand_id, ref_id, toks, unnest(generate_series(1, len(toks) - 1)) AS i FROM rt WHERE len(toks) >= 2)),
        |cc1 AS (SELECT cand_id, ref_id, gram, COUNT(*) AS c FROM c1 GROUP BY 1, 2, 3),
        |rc1 AS (SELECT cand_id, ref_id, gram, COUNT(*) AS c FROM r1 GROUP BY 1, 2, 3),
        |cc2 AS (SELECT cand_id, ref_id, gram, COUNT(*) AS c FROM c2 GROUP BY 1, 2, 3),
        |rc2 AS (SELECT cand_id, ref_id, gram, COUNT(*) AS c FROM r2 GROUP BY 1, 2, 3),
        |l1 AS (SELECT COALESCE(a.cand_id, b.cand_id) AS cand_id, COALESCE(a.ref_id, b.ref_id) AS ref_id,
        |    SUM(COALESCE(a.c, 0)) AS nc, SUM(COALESCE(b.c, 0)) AS nr,
        |    SUM(least(COALESCE(a.c, 0), COALESCE(b.c, 0))) AS ov
        |  FROM cc1 a FULL OUTER JOIN rc1 b
        |    ON a.cand_id = b.cand_id AND a.ref_id = b.ref_id AND a.gram = b.gram
        |  GROUP BY 1, 2),
        |l2 AS (SELECT COALESCE(a.cand_id, b.cand_id) AS cand_id, COALESCE(a.ref_id, b.ref_id) AS ref_id,
        |    SUM(COALESCE(a.c, 0)) AS nc, SUM(COALESCE(b.c, 0)) AS nr,
        |    SUM(least(COALESCE(a.c, 0), COALESCE(b.c, 0))) AS ov
        |  FROM cc2 a FULL OUTER JOIN rc2 b
        |    ON a.cand_id = b.cand_id AND a.ref_id = b.ref_id AND a.gram = b.gram
        |  GROUP BY 1, 2)
        |SELECT l1.cand_id, l1.ref_id,
        |  CAST(l1.nc AS BIGINT) AS n1_cand, CAST(l1.nr AS BIGINT) AS n1_ref,
        |  CAST(l1.ov AS BIGINT) AS overlap1,
        |  CASE WHEN l1.nc > 0 THEN CAST(CAST(CAST(l1.ov AS DOUBLE) / CAST(l1.nc AS DOUBLE) AS DECIMAL(18,9)) AS DOUBLE) END AS rouge1_p,
        |  CASE WHEN l1.nr > 0 THEN CAST(CAST(CAST(l1.ov AS DOUBLE) / CAST(l1.nr AS DOUBLE) AS DECIMAL(18,9)) AS DOUBLE) END AS rouge1_r,
        |  CASE WHEN l1.nc + l1.nr > 0 THEN CAST(CAST(2 * CAST(l1.ov AS DOUBLE) / CAST(l1.nc + l1.nr AS DOUBLE) AS DECIMAL(18,9)) AS DOUBLE) END AS rouge1_f,
        |  CAST(l2.nc AS BIGINT) AS n2_cand, CAST(l2.nr AS BIGINT) AS n2_ref,
        |  CAST(l2.ov AS BIGINT) AS overlap2,
        |  CASE WHEN l2.nc > 0 THEN CAST(CAST(CAST(l2.ov AS DOUBLE) / CAST(l2.nc AS DOUBLE) AS DECIMAL(18,9)) AS DOUBLE) END AS rouge2_p,
        |  CASE WHEN l2.nr > 0 THEN CAST(CAST(CAST(l2.ov AS DOUBLE) / CAST(l2.nr AS DOUBLE) AS DECIMAL(18,9)) AS DOUBLE) END AS rouge2_r,
        |  CASE WHEN l2.nc + l2.nr > 0 THEN CAST(CAST(2 * CAST(l2.ov AS DOUBLE) / CAST(l2.nc + l2.nr AS DOUBLE) AS DECIMAL(18,9)) AS DOUBLE) END AS rouge2_f
        |FROM l1 LEFT JOIN l2 ON l2.cand_id = l1.cand_id AND l2.ref_id = l1.ref_id
        |ORDER BY l1.cand_id, l1.ref_id""".stripMargin,
    "q303_lexical_diversity" ->
      // (group, token) counts; N, V, V1, Σc² exact; TTR/hapax/K single
      // divisions, mirrored quantization
      """WITH t AS (SELECT lang AS grp, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS tok
        |  FROM documents),
        |c AS (SELECT grp, tok, COUNT(*) AS c FROM t GROUP BY 1, 2),
        |g AS (SELECT grp, SUM(c) AS ntok, COUNT(*) AS v,
        |    SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS v1,
        |    SUM(CAST(c AS HUGEINT) * c) AS sumsq
        |  FROM c GROUP BY 1)
        |SELECT grp, CAST(ntok AS BIGINT) AS n_tokens, CAST(v AS BIGINT) AS n_types,
        |  CAST(v1 AS BIGINT) AS n_hapax,
        |  CASE WHEN ntok > 0 THEN CAST(CAST(CAST(v AS DOUBLE) / CAST(ntok AS DOUBLE) AS DECIMAL(18,9)) AS DOUBLE) END AS ttr,
        |  CASE WHEN v > 0 THEN CAST(CAST(CAST(v1 AS DOUBLE) / CAST(v AS DOUBLE) AS DECIMAL(18,9)) AS DOUBLE) END AS hapax_ratio,
        |  CASE WHEN ntok > 0 THEN CAST(CAST(1e4 * (CAST(sumsq AS DOUBLE) - CAST(ntok AS DOUBLE))
        |    / (CAST(ntok AS DOUBLE) * CAST(ntok AS DOUBLE)) AS DECIMAL(18,9)) AS DOUBLE) END AS yule_k
        |FROM g ORDER BY grp""".stripMargin,
    "q304_cvm" ->
      // distinct-value margin; cntv·(cuma·n2−cumb·n1)² HUGEINT-exact;
      // ONE division by N²·n1·n2
      """WITH cells AS (SELECT CAST(o_totalprice AS DECIMAL(18,2)) AS v,
        |    COUNT(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS na,
        |    COUNT(CASE WHEN o_orderstatus = 'O' THEN 1 END) AS nb
        |  FROM orders WHERE o_orderstatus IN ('F', 'O') GROUP BY 1),
        |tot AS (SELECT SUM(na) AS n1, SUM(nb) AS n2 FROM cells),
        |st AS (SELECT v, na, nb,
        |    SUM(na) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cuma,
        |    SUM(nb) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumb
        |  FROM cells),
        |s AS (SELECT n1, n2,
        |    SUM(CAST(na + nb AS HUGEINT)
        |      * (CAST(cuma AS HUGEINT) * n2 - CAST(cumb AS HUGEINT) * n1)
        |      * (CAST(cuma AS HUGEINT) * n2 - CAST(cumb AS HUGEINT) * n1)) AS s
        |  FROM st CROSS JOIN tot GROUP BY 1, 2)
        |SELECT CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
        |  CAST(CAST(CAST(s AS DOUBLE) / (CAST(n1 + n2 AS DOUBLE) * CAST(n1 + n2 AS DOUBLE)
        |    * CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)) AS DECIMAL(18,9)) AS DOUBLE) AS cvm_t
        |FROM s""".stripMargin,
    "q305_cliffs_delta" ->
      // #(a>b)/#(a<b) from exact integer margin products; one division
      """WITH cells AS (SELECT CAST(o_totalprice AS DECIMAL(18,2)) AS v,
        |    COUNT(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS na,
        |    COUNT(CASE WHEN o_orderstatus = 'O' THEN 1 END) AS nb
        |  FROM orders WHERE o_orderstatus IN ('F', 'O') GROUP BY 1),
        |tot AS (SELECT SUM(na) AS n1, SUM(nb) AS n2 FROM cells),
        |st AS (SELECT v, na, nb,
        |    SUM(nb) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumb
        |  FROM cells),
        |a AS (SELECT SUM(CAST(na AS HUGEINT) * (cumb - nb)) AS gt,
        |    SUM(CAST(na AS HUGEINT) * (n2 - cumb)) AS lt
        |  FROM st CROSS JOIN tot)
        |SELECT CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
        |  CAST(gt AS BIGINT) AS n_greater, CAST(lt AS BIGINT) AS n_less,
        |  CAST(CAST(CAST(gt - lt AS DOUBLE) / (CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE))
        |    AS DECIMAL(18,9)) AS DOUBLE) AS cliffs_delta
        |FROM a CROSS JOIN tot""".stripMargin,
    "q306_runs_test" ->
      // sign by integer cross-product x·n ≥ Σx (no mean division); runs
      // via one lag; E[R]/Var[R] mirrored chains
      """WITH d AS (SELECT date_diff('day', DATE '1992-01-01', o_orderdate) AS t, COUNT(*) AS x
        |  FROM orders GROUP BY 1),
        |tot AS (SELECT COUNT(*) AS n, SUM(x) AS sx FROM d),
        |s AS (SELECT t, CASE WHEN CAST(x AS HUGEINT) * n >= CAST(sx AS HUGEINT) THEN 1 ELSE 0 END AS up
        |  FROM d CROSS JOIN tot),
        |r AS (SELECT up, CASE WHEN lag(up) OVER (ORDER BY t) IS NULL
        |    OR lag(up) OVER (ORDER BY t) <> up THEN 1 ELSE 0 END AS chg FROM s),
        |a AS (SELECT SUM(chg) AS runs, SUM(up) AS n1, SUM(1 - up) AS n2 FROM r),
        |c AS (SELECT runs, n1, n2,
        |    2 * CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE) / (CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE)) + 1 AS er,
        |    2 * CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)
        |      * (2 * CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE) - (CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE)))
        |      / ((CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE)) * (CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE))
        |        * ((CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE)) - 1)) AS vr
        |  FROM a)
        |SELECT CAST(runs AS BIGINT) AS runs, CAST(n1 AS BIGINT) AS n_above,
        |  CAST(n2 AS BIGINT) AS n_below,
        |  CAST(CAST(er AS DECIMAL(18,6)) AS DOUBLE) AS expected_runs,
        |  CASE WHEN vr > 0 THEN CAST(CAST((CAST(runs AS DOUBLE) - er) / sqrt(vr)
        |    AS DECIMAL(18,9)) AS DOUBLE) END AS z
        |FROM c""".stripMargin,
    "q307_theil" ->
      // margin terms quantize their single ln DECIMAL(28,12) pre-sum;
      // between over the k-row group table; total = tb + Σ share·tw
      """WITH m AS (SELECT source AS grp, CAST(n_chars AS BIGINT) AS v, COUNT(*) AS cnt
        |  FROM documents WHERE n_chars >= 0 GROUP BY 1, 2),
        |g AS (SELECT grp, SUM(cnt) AS ng, SUM(CAST(v AS HUGEINT) * cnt) AS xg FROM m
        |  GROUP BY 1 HAVING SUM(CAST(v AS HUGEINT) * cnt) > 0),
        |tot AS (SELECT SUM(ng) AS n, SUM(xg) AS x FROM g),
        |w AS (SELECT m.grp, SUM(CAST(CAST(cnt AS DOUBLE) * CAST(v AS DOUBLE) / CAST(xg AS DOUBLE)
        |      * ln(CAST(v AS DOUBLE) * CAST(ng AS DOUBLE) / CAST(xg AS DOUBLE)) AS DECIMAL(28,12))) AS tw
        |  FROM m JOIN g USING (grp) WHERE v > 0 GROUP BY 1),
        |b AS (SELECT SUM(CAST((CAST(xg AS DOUBLE) / CAST(x AS DOUBLE))
        |      * ln(CAST(xg AS DOUBLE) * CAST(n AS DOUBLE) / (CAST(x AS DOUBLE) * CAST(ng AS DOUBLE)))
        |      AS DECIMAL(28,12))) AS tb FROM g CROSS JOIN tot),
        |wt AS (SELECT g.grp, g.ng, g.xg, w.tw, tot.n, tot.x, b.tb
        |  FROM g LEFT JOIN w USING (grp) CROSS JOIN tot CROSS JOIN b),
        |tt AS (SELECT CAST(MAX(tb) AS DOUBLE)
        |    + CAST(SUM(CAST((CAST(xg AS DOUBLE) / CAST(x AS DOUBLE))
        |        * COALESCE(CAST(tw AS DOUBLE), 0) AS DECIMAL(28,12))) AS DOUBLE) AS tt FROM wt)
        |SELECT grp, CAST(ng AS BIGINT) AS n,
        |  CAST(CAST(xg AS DECIMAL(19,0)) AS DOUBLE) AS total,
        |  CAST(CAST(CAST(xg AS DOUBLE) / CAST(x AS DOUBLE) AS DECIMAL(18,9)) AS DOUBLE) AS share,
        |  CAST(CAST(COALESCE(CAST(tw AS DOUBLE), 0) AS DECIMAL(18,9)) AS DOUBLE) AS theil_within,
        |  CAST(CAST(CAST(tb AS DOUBLE) AS DECIMAL(18,9)) AS DOUBLE) AS theil_between,
        |  CAST(CAST(tt AS DECIMAL(18,9)) AS DOUBLE) AS theil_total
        |FROM wt CROSS JOIN tt ORDER BY grp""".stripMargin,
    "q308_hhi" ->
      // HHI = Σn²/n² exact; Shannon terms −s·ln s DECIMAL(28,12) pre-sum
      """WITH cells AS (SELECT c_nationkey AS grp, c_mktsegment AS cat, COUNT(*) AS c
        |  FROM customer GROUP BY 1, 2),
        |g AS (SELECT grp, COUNT(*) AS k, SUM(c) AS n, SUM(CAST(c AS HUGEINT) * c) AS sumsq
        |  FROM cells GROUP BY 1),
        |sh AS (SELECT cells.grp, SUM(CAST(CAST(c AS DOUBLE) / CAST(g.n AS DOUBLE)
        |      * ln(CAST(c AS DOUBLE) / CAST(g.n AS DOUBLE)) * -1 AS DECIMAL(28,12))) AS h
        |  FROM cells JOIN g USING (grp) GROUP BY 1)
        |SELECT grp, CAST(k AS BIGINT) AS n_categories, CAST(n AS BIGINT) AS n,
        |  CAST(CAST(CAST(sumsq AS DOUBLE) / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE))
        |    AS DECIMAL(18,9)) AS DOUBLE) AS hhi,
        |  CAST(CAST(CAST(h AS DOUBLE) AS DECIMAL(18,9)) AS DOUBLE) AS shannon_h,
        |  CASE WHEN k >= 2 THEN CAST(CAST(CAST(h AS DOUBLE) / ln(CAST(k AS DOUBLE))
        |    AS DECIMAL(18,9)) AS DOUBLE) END AS evenness
        |FROM g JOIN sh USING (grp) ORDER BY grp""".stripMargin,
    "q309_power" ->
      // baseline rate one exact division; z literals embedded; ceil'd
      // per-arm n and calendar days mirrored
      """WITH g AS (SELECT o_orderpriority AS segment, COUNT(*) AS n,
        |    SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS s,
        |    COUNT(DISTINCT o_orderdate) AS days
        |  FROM orders GROUP BY 1),
        |c AS (SELECT segment, n, s, days,
        |    CAST(s AS DOUBLE) / CAST(n AS DOUBLE) AS p0,
        |    CAST(s AS DOUBLE) / CAST(n AS DOUBLE) * (1 + CAST(2 AS DOUBLE) / 100) AS p1
        |  FROM g),
        |f AS (SELECT segment, n, s, days, p0, p1, (p0 + p1) / 2 AS pbar FROM c),
        |z AS (SELECT segment, n, s, days, p0, p1,
        |    1.959964 * sqrt(2 * pbar * (1 - pbar)) + 0.841621 * sqrt(p0 * (1 - p0) + p1 * (1 - p1)) AS num
        |  FROM f),
        |o AS (SELECT segment, n, s, days, p0, p1,
        |    num * num / ((p1 - p0) * (p1 - p0)) AS narm,
        |    (s > 0 AND s < n AND p1 < 1) AS ok FROM z)
        |SELECT segment, CAST(n AS BIGINT) AS n_observed,
        |  CAST(CAST(p0 AS DECIMAL(18,9)) AS DOUBLE) AS baseline_rate,
        |  CASE WHEN ok THEN CAST(ceil(narm) AS BIGINT) END AS n_per_arm,
        |  CASE WHEN ok THEN CAST(ceil(narm * 2 / (CAST(n AS DOUBLE) / CAST(days AS DOUBLE))) AS BIGINT) END AS days_at_current_rate
        |FROM o ORDER BY segment""".stripMargin,
    "q311_nelson_aalen" ->
      // q157's margin and at-risk recipe; d/n hazard increments as
      // nano-unit integers pre-cumsum; exp(-H) quantized 9 dp
      """WITH pu AS (SELECT user_id,
        |        (CAST(floor(epoch(max(ts))) AS BIGINT) -
        |         CAST(floor(epoch(min(ts))) AS BIGINT)) // 86400 AS t,
        |        COUNT(CASE WHEN event_type = 'purchase' THEN 1 END) > 0 AS died
        |      FROM events GROUP BY user_id),
        |pt AS (SELECT t, COUNT(CASE WHEN died THEN 1 END) AS d,
        |              COUNT(CASE WHEN NOT died THEN 1 END) AS c
        |       FROM pu GROUP BY t),
        |tot AS (SELECT CAST(SUM(d + c) AS BIGINT) AS nn FROM pt),
        |cum AS (SELECT t, d, c, SUM(d) OVER (ORDER BY t) AS cum_d,
        |               SUM(c) OVER (ORDER BY t) AS cum_c FROM pt),
        |risk AS (SELECT t, d, nn - (cum_d + cum_c - d - c) AS n_risk
        |         FROM cum, tot WHERE d > 0),
        |hz AS (SELECT t, n_risk, d,
        |         CAST(round(CAST(d AS DOUBLE) / CAST(n_risk AS DOUBLE) * 1e9) AS BIGINT) AS h
        |       FROM risk),
        |s AS (SELECT t, n_risk, d, SUM(h) OVER (ORDER BY t) AS ch FROM hz)
        |SELECT t, CAST(n_risk AS BIGINT) AS n_risk, CAST(d AS BIGINT) AS d,
        |  CAST(CAST(CAST(ch AS DOUBLE) / 1e9 AS DECIMAL(18,9)) AS DOUBLE) AS cum_hazard,
        |  CAST(CAST(exp(CAST(ch AS DOUBLE) / -1e9) AS DECIMAL(18,9)) AS DOUBLE) AS survival_fh
        |FROM s ORDER BY t""".stripMargin,
    "q312_anova2" ->
      // one (a,b) cell aggregate; S²/n terms DECIMAL(38,6) pre-sum per
      // table; Type-I SS algebra and F ratios mirrored
      """WITH cells AS (SELECT l_returnflag AS a, l_linestatus AS b, COUNT(*) AS n,
        |    SUM(CAST(l_quantity AS HUGEINT)) AS s1,
        |    SUM(CAST(l_quantity AS HUGEINT) * CAST(l_quantity AS HUGEINT)) AS s2
        |  FROM lineitem GROUP BY 1, 2),
        |grand AS (SELECT SUM(n) AS nt, SUM(s1) AS t1, SUM(s2) AS t2, COUNT(*) AS ncells,
        |    CAST(SUM(CAST(CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE) AS DECIMAL(38,6))) AS DOUBLE) AS qcells
        |  FROM cells),
        |ma AS (SELECT a, SUM(s1) AS sa, SUM(n) AS na FROM cells GROUP BY 1),
        |qa AS (SELECT COUNT(*) AS ka,
        |    CAST(SUM(CAST(CAST(sa AS DOUBLE) * CAST(sa AS DOUBLE) / CAST(na AS DOUBLE) AS DECIMAL(38,6))) AS DOUBLE) AS qav FROM ma),
        |mb AS (SELECT b, SUM(s1) AS sb, SUM(n) AS nb FROM cells GROUP BY 1),
        |qb AS (SELECT COUNT(*) AS kb,
        |    CAST(SUM(CAST(CAST(sb AS DOUBLE) * CAST(sb AS DOUBLE) / CAST(nb AS DOUBLE) AS DECIMAL(38,6))) AS DOUBLE) AS qbv FROM mb),
        |j AS (SELECT nt, t1, t2, ncells, qcells, ka, qav, kb, qbv,
        |    CAST(t1 AS DOUBLE) * CAST(t1 AS DOUBLE) / CAST(nt AS DOUBLE) AS cf
        |  FROM grand CROSS JOIN qa CROSS JOIN qb),
        |ss AS (SELECT nt, ka, kb, ncells,
        |    qav - cf AS ssa, qbv - cf AS ssb, qcells - cf AS sscells,
        |    qcells - cf - (qav - cf) - (qbv - cf) AS ssab,
        |    CAST(t2 AS DOUBLE) - qcells AS ssw FROM j),
        |d AS (SELECT nt, ka, kb, ssa, ssb, ssab, ssw,
        |    CAST(ka - 1 AS DOUBLE) AS dfa, CAST(kb - 1 AS DOUBLE) AS dfb,
        |    CAST(ncells - ka - kb + 1 AS DOUBLE) AS dfab,
        |    CAST(nt - ncells AS DOUBLE) AS dfw FROM ss),
        |f AS (SELECT nt, ka, kb, ssa, ssb, ssab, ssw, dfa, dfb, dfab, ssw / dfw AS mse FROM d)
        |SELECT CAST(nt AS BIGINT) AS n, CAST(ka AS BIGINT) AS levels_a, CAST(kb AS BIGINT) AS levels_b,
        |  CAST(CAST(ssa AS DECIMAL(28,6)) AS DOUBLE) AS ss_a,
        |  CAST(CAST(ssb AS DECIMAL(28,6)) AS DOUBLE) AS ss_b,
        |  CAST(CAST(ssab AS DECIMAL(28,6)) AS DOUBLE) AS ss_interaction,
        |  CAST(CAST(ssw AS DECIMAL(28,6)) AS DOUBLE) AS ss_within,
        |  CASE WHEN dfa > 0 AND mse > 0 THEN CAST(CAST(ssa / dfa / mse AS DECIMAL(18,9)) AS DOUBLE) END AS f_a,
        |  CASE WHEN dfb > 0 AND mse > 0 THEN CAST(CAST(ssb / dfb / mse AS DECIMAL(18,9)) AS DOUBLE) END AS f_b,
        |  CASE WHEN dfab > 0 AND mse > 0 THEN CAST(CAST(ssab / dfab / mse AS DECIMAL(18,9)) AS DOUBLE) END AS f_interaction
        |FROM f""".stripMargin,
    "q315_friedman" ->
      // complete blocks only; doubled within-block average ranks stay
      // integers; the ×4-cleared tie-general χ² is a ratio of exact
      // integers — one division
      """WITH cells AS (SELECT year(o_orderdate) * 12 + month(o_orderdate) AS blk,
        |    o_orderpriority AS trt,
        |    SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS HUGEINT)) AS v
        |  FROM orders GROUP BY 1, 2),
        |kk AS (SELECT COUNT(DISTINCT trt) AS k FROM cells),
        |complete AS (SELECT blk FROM cells GROUP BY blk
        |  HAVING COUNT(*) = (SELECT k FROM kk)),
        |ib AS (SELECT c.* FROM cells c JOIN complete USING (blk)),
        |margin AS (SELECT blk, v, COUNT(*) AS cnt FROM ib GROUP BY 1, 2),
        |r AS (SELECT blk, v, cnt,
        |    SUM(cnt) OVER (PARTITION BY blk ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - cnt AS cb
        |  FROM margin),
        |rd AS (SELECT blk, v, 2 * cb + cnt + 1 AS dr FROM r),
        |dc AS (SELECT ib.blk, ib.trt, rd.dr FROM ib JOIN rd ON rd.blk = ib.blk AND rd.v = ib.v),
        |pt AS (SELECT trt, COUNT(*) AS b, SUM(CAST(dr AS HUGEINT)) AS drj FROM dc GROUP BY 1),
        |sq AS (SELECT SUM(CAST(dr AS HUGEINT) * dr) AS sumdr2 FROM dc),
        |tt AS (SELECT COUNT(*) AS nk, MAX(b) AS bb, SUM(CAST(drj AS HUGEINT) * drj) AS sumdrj2 FROM pt),
        |g AS (SELECT nk, bb,
        |    CASE WHEN CAST(sumdr2 AS DOUBLE) - CAST(bb AS DOUBLE) * CAST(nk AS DOUBLE) * (CAST(nk AS DOUBLE) + 1) * (CAST(nk AS DOUBLE) + 1) > 0
        |      THEN CAST(CAST((CAST(nk AS DOUBLE) - 1) * (CAST(sumdrj2 AS DOUBLE)
        |          - CAST(bb AS DOUBLE) * CAST(bb AS DOUBLE) * CAST(nk AS DOUBLE) * (CAST(nk AS DOUBLE) + 1) * (CAST(nk AS DOUBLE) + 1))
        |        / (CAST(sumdr2 AS DOUBLE) - CAST(bb AS DOUBLE) * CAST(nk AS DOUBLE) * (CAST(nk AS DOUBLE) + 1) * (CAST(nk AS DOUBLE) + 1))
        |        AS DECIMAL(18,9)) AS DOUBLE) END AS chi2_f
        |  FROM tt CROSS JOIN sq)
        |SELECT trt, CAST(b AS BIGINT) AS n_blocks, CAST(drj AS DOUBLE) / 2 AS rank_sum,
        |  CAST(nk AS BIGINT) AS k, chi2_f
        |FROM pt CROSS JOIN g ORDER BY trt""".stripMargin,
    "q323_morans_i" ->
      // same md5 coordinate recipe as q248; same-cell pair products
      // collapse to per-cell sums; I = NUM/(W·(n·SS − T²)), one division
      """WITH pts AS (SELECT c_custkey AS id,
        |    CAST('0x' || substring(md5('gx:' || CAST(c_custkey AS VARCHAR)), 1, 8) AS BIGINT) % 10000000 AS x,
        |    CAST('0x' || substring(md5('gy:' || CAST(c_custkey AS VARCHAR)), 1, 8) AS BIGINT) % 10000000 AS y
        |  FROM customer),
        |pv AS (SELECT id, x, y,
        |    ((x // 1000000) * 7 + (y // 1000000) * 3) % 50 + id % 10 AS v FROM pts),
        |cells AS (SELECT x // 1000000 AS cx, y // 1000000 AS cy, COUNT(*) AS nc,
        |    SUM(CAST(v AS HUGEINT)) AS sc, SUM(CAST(v AS HUGEINT) * v) AS qc
        |  FROM pv GROUP BY 1, 2),
        |g AS (SELECT SUM(nc) AS n, SUM(sc) AS t, SUM(qc) AS ss, COUNT(*) AS ncells FROM cells),
        |terms AS (SELECT
        |    SUM((CAST(n AS HUGEINT) * sc - CAST(nc AS HUGEINT) * t) * (CAST(n AS HUGEINT) * sc - CAST(nc AS HUGEINT) * t)
        |      - CAST(n AS HUGEINT) * n * qc
        |      + 2 * CAST(n AS HUGEINT) * t * sc
        |      - CAST(nc AS HUGEINT) * t * t) AS num,
        |    SUM(CAST(nc AS HUGEINT) * (nc - 1)) AS w
        |  FROM cells CROSS JOIN g)
        |SELECT CAST(n AS BIGINT) AS n, CAST(ncells AS BIGINT) AS n_cells,
        |  CAST(w AS BIGINT) AS w_pairs,
        |  CASE WHEN w > 0 AND CAST(n AS HUGEINT) * ss - CAST(t AS HUGEINT) * t > 0
        |    THEN CAST(CAST(CAST(num AS DOUBLE)
        |      / (CAST(w AS DOUBLE) * CAST(CAST(n AS HUGEINT) * ss - CAST(t AS HUGEINT) * t AS DOUBLE))
        |      AS DECIMAL(18,9)) AS DOUBLE) END AS morans_i,
        |  CAST(CAST(-1 / (CAST(n AS DOUBLE) - 1) AS DECIMAL(18,9)) AS DOUBLE) AS expected_i
        |FROM terms CROSS JOIN g""".stripMargin,
    "q324_getis_ord" ->
      // same cells as q323; G = Σ(s²−q)/(T²−SS), E[G] = W/(n(n−1)) —
      // two single divisions of exact integer sums
      """WITH pts AS (SELECT c_custkey AS id,
        |    CAST('0x' || substring(md5('gx:' || CAST(c_custkey AS VARCHAR)), 1, 8) AS BIGINT) % 10000000 AS x,
        |    CAST('0x' || substring(md5('gy:' || CAST(c_custkey AS VARCHAR)), 1, 8) AS BIGINT) % 10000000 AS y
        |  FROM customer),
        |pv AS (SELECT id, x, y,
        |    ((x // 1000000) * 7 + (y // 1000000) * 3) % 50 + id % 10 AS v FROM pts),
        |cells AS (SELECT x // 1000000 AS cx, y // 1000000 AS cy, COUNT(*) AS nc,
        |    SUM(CAST(v AS HUGEINT)) AS sc, SUM(CAST(v AS HUGEINT) * v) AS qc
        |  FROM pv GROUP BY 1, 2),
        |a AS (SELECT SUM(nc) AS n, SUM(sc) AS t, SUM(qc) AS ss, COUNT(*) AS ncells,
        |    SUM(CAST(sc AS HUGEINT) * sc - qc) AS num,
        |    SUM(CAST(nc AS HUGEINT) * (nc - 1)) AS w
        |  FROM cells)
        |SELECT CAST(n AS BIGINT) AS n, CAST(ncells AS BIGINT) AS n_cells,
        |  CAST(w AS BIGINT) AS w_pairs,
        |  CASE WHEN CAST(t AS HUGEINT) * t - ss > 0
        |    THEN CAST(CAST(CAST(num AS DOUBLE) / CAST(CAST(t AS HUGEINT) * t - ss AS DOUBLE)
        |      AS DECIMAL(18,9)) AS DOUBLE) END AS general_g,
        |  CAST(CAST(CAST(w AS DOUBLE) / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1))
        |    AS DECIMAL(18,9)) AS DOUBLE) AS expected_g
        |FROM a""".stripMargin,
    "q321_seasonal_mk" ->
      // per-season S exact; 18·Var per season is an exact integer so the
      // combined variance sums exactly; one continuity-corrected z
      """WITH srs AS (SELECT month(o_orderdate) AS season, year(o_orderdate) AS t, COUNT(*) AS x
        |  FROM orders GROUP BY 1, 2),
        |s AS (SELECT a.season, SUM(CAST(sign(b.x - a.x) AS BIGINT)) AS s
        |  FROM srs a JOIN srs b ON a.season = b.season AND a.t < b.t GROUP BY 1),
        |ties AS (SELECT season, SUM(tc) AS n,
        |    SUM(CAST(tc AS HUGEINT) * (tc - 1) * (2 * tc + 5)) AS tieterm
        |  FROM (SELECT season, x, COUNT(*) AS tc FROM srs GROUP BY 1, 2) GROUP BY 1),
        |per AS (SELECT ties.season, ties.n, COALESCE(s.s, 0) AS s,
        |    CAST(n AS HUGEINT) * (n - 1) * (2 * n + 5) - tieterm AS var18
        |  FROM ties LEFT JOIN s USING (season)),
        |tot AS (SELECT SUM(s) AS stot, SUM(var18) AS v18, SUM(n) AS ntot FROM per),
        |g AS (SELECT CAST(stot AS BIGINT) AS s_total, CAST(ntot AS BIGINT) AS n_total,
        |    CASE WHEN CAST(v18 AS DOUBLE) / 18 > 0 THEN
        |      CAST(CAST(CASE WHEN stot > 0 THEN (CAST(stot AS DOUBLE) - 1) / sqrt(CAST(v18 AS DOUBLE) / 18)
        |                     WHEN stot < 0 THEN (CAST(stot AS DOUBLE) + 1) / sqrt(CAST(v18 AS DOUBLE) / 18)
        |                     ELSE 0 END AS DECIMAL(18,9)) AS DOUBLE) END AS z
        |  FROM tot)
        |SELECT CAST(season AS INTEGER) AS season, CAST(n AS BIGINT) AS n,
        |  CAST(s AS BIGINT) AS s, s_total, n_total, z
        |FROM per CROSS JOIN g ORDER BY season""".stripMargin,
    "q322_jonckheere" ->
      // densified group × value grid for cumBelow; 2J and 4E exact
      // integers; no-tie normal variance (documented caveat)
      """WITH cells AS (SELECT CAST(o_totalprice AS DECIMAL(18,2)) AS v,
        |    o_orderpriority AS grp, COUNT(*) AS cnt FROM orders GROUP BY 1, 2),
        |grid AS (SELECT m.v, g.grp, COALESCE(c.cnt, 0) AS cnt
        |  FROM (SELECT DISTINCT v FROM cells) m
        |  CROSS JOIN (SELECT DISTINCT grp FROM cells) g
        |  LEFT JOIN cells c ON c.v = m.v AND c.grp = g.grp),
        |cum AS (SELECT v, grp, cnt,
        |    SUM(cnt) OVER (PARTITION BY grp)
        |      - SUM(cnt) OVER (PARTITION BY grp ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS above
        |  FROM grid),
        |pr AS (SELECT i.v, i.grp AS gi, i.cnt AS ci, j.grp AS gj, j.cnt AS cj, j.above
        |  FROM cells i JOIN cum j ON j.v = i.v WHERE i.grp < j.grp),
        |tj AS (SELECT SUM(CAST(ci AS HUGEINT) * (2 * above + cj)) AS twoj FROM pr),
        |sz AS (SELECT COUNT(*) AS k, SUM(ng) AS n,
        |    SUM(CAST(ng AS HUGEINT) * ng) AS sn2,
        |    SUM(CAST(ng AS HUGEINT) * ng * (2 * ng + 3)) AS sn23
        |  FROM (SELECT grp, SUM(cnt) AS ng FROM cells GROUP BY 1)),
        |f AS (SELECT k, n, CAST(twoj AS DOUBLE) / 2 AS j,
        |    (CAST(n AS DOUBLE) * CAST(n AS DOUBLE) - CAST(sn2 AS DOUBLE)) / 4 AS ej,
        |    (CAST(n AS DOUBLE) * CAST(n AS DOUBLE) * (2 * CAST(n AS DOUBLE) + 3) - CAST(sn23 AS DOUBLE)) / 72 AS varj
        |  FROM tj CROSS JOIN sz)
        |SELECT CAST(k AS BIGINT) AS k, CAST(n AS BIGINT) AS n, j AS j_stat,
        |  CAST(CAST(ej AS DECIMAL(28,6)) AS DOUBLE) AS expected_j,
        |  CASE WHEN varj > 0 THEN CAST(CAST((j - ej) / sqrt(varj) AS DECIMAL(18,9)) AS DOUBLE) END AS z
        |FROM f""".stripMargin,
    "q318_cochran_q" ->
      // incidence cells once; Q is a ratio of exact integers, one division
      """WITH x AS (SELECT user_id AS blk, event_type AS trt FROM events GROUP BY 1, 2),
        |c AS (SELECT t.trt, COALESCE(s.cj1, 0) AS cj
        |  FROM (SELECT DISTINCT trt FROM x) t
        |  LEFT JOIN (SELECT trt, COUNT(*) AS cj1 FROM x GROUP BY 1) s USING (trt)),
        |r AS (SELECT blk, COUNT(*) AS ru FROM x GROUP BY 1),
        |sc AS (SELECT COUNT(*) AS k, SUM(cj) AS sc, SUM(CAST(cj AS HUGEINT) * cj) AS sc2 FROM c),
        |sr AS (SELECT COUNT(*) AS b, SUM(ru) AS sr, SUM(CAST(ru AS HUGEINT) * ru) AS sr2 FROM r),
        |g AS (SELECT k, b,
        |    CASE WHEN CAST(k AS DOUBLE) * CAST(sr AS DOUBLE) - CAST(sr2 AS DOUBLE) > 0
        |    THEN CAST(CAST((CAST(k AS DOUBLE) - 1) * (CAST(k AS DOUBLE) * CAST(sc2 AS DOUBLE) - CAST(sc AS DOUBLE) * CAST(sc AS DOUBLE))
        |      / (CAST(k AS DOUBLE) * CAST(sr AS DOUBLE) - CAST(sr2 AS DOUBLE)) AS DECIMAL(18,9)) AS DOUBLE) END AS q_stat
        |  FROM sc CROSS JOIN sr)
        |SELECT trt, CAST(cj AS BIGINT) AS n_yes, CAST(k AS BIGINT) AS k,
        |  CAST(b AS BIGINT) AS n_blocks, q_stat
        |FROM c CROSS JOIN g ORDER BY trt""".stripMargin,
    "q319_page_trend" ->
      // q315's doubled-rank machinery + sorted-order weights; 2L exact;
      // E/Var/z one mirrored chain
      """WITH cells AS (SELECT year(o_orderdate) * 12 + month(o_orderdate) AS blk,
        |    o_orderpriority AS trt,
        |    SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS HUGEINT)) AS v
        |  FROM orders GROUP BY 1, 2),
        |kk AS (SELECT COUNT(DISTINCT trt) AS k FROM cells),
        |complete AS (SELECT blk FROM cells GROUP BY blk
        |  HAVING COUNT(*) = (SELECT k FROM kk)),
        |ib AS (SELECT c.* FROM cells c JOIN complete USING (blk)),
        |margin AS (SELECT blk, v, COUNT(*) AS cnt FROM ib GROUP BY 1, 2),
        |r AS (SELECT blk, v, cnt,
        |    SUM(cnt) OVER (PARTITION BY blk ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - cnt AS cb
        |  FROM margin),
        |rd AS (SELECT blk, v, 2 * cb + cnt + 1 AS dr FROM r),
        |wt AS (SELECT trt, row_number() OVER (ORDER BY trt) AS w
        |  FROM (SELECT DISTINCT trt FROM cells)),
        |pt AS (SELECT ib.trt, COUNT(*) AS b, SUM(CAST(rd.dr AS HUGEINT)) AS drj
        |  FROM ib JOIN rd ON rd.blk = ib.blk AND rd.v = ib.v GROUP BY 1),
        |a AS (SELECT COUNT(*) AS k, MAX(pt.b) AS b,
        |    SUM(CAST(wt.w AS HUGEINT) * pt.drj) AS twol
        |  FROM pt JOIN wt USING (trt)),
        |f AS (SELECT k, b, CAST(twol AS DOUBLE) / 2 AS l,
        |    CAST(b AS DOUBLE) * CAST(k AS DOUBLE) * (CAST(k AS DOUBLE) + 1) * (CAST(k AS DOUBLE) + 1) / 4 AS el,
        |    CAST(b AS DOUBLE) * CAST(k AS DOUBLE) * CAST(k AS DOUBLE) * (CAST(k AS DOUBLE) + 1) * (CAST(k AS DOUBLE) + 1) * (CAST(k AS DOUBLE) - 1) / 144 AS vl
        |  FROM a)
        |SELECT CAST(k AS BIGINT) AS k, CAST(b AS BIGINT) AS n_blocks, l AS l_stat,
        |  CAST(CAST(el AS DECIMAL(18,6)) AS DOUBLE) AS expected_l,
        |  CASE WHEN vl > 0 THEN CAST(CAST((l - el) / sqrt(vl) AS DECIMAL(18,9)) AS DOUBLE) END AS z
        |FROM f""".stripMargin,
    "q320_partial_corr" ->
      // 9 exact power/cross sums in one pass; Pearson legs and the
      // partial identity mirrored, quantized 9 dp
      """WITH g AS (SELECT COUNT(*) AS n,
        |    SUM(CAST(l_quantity AS HUGEINT)) AS sx,
        |    SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS HUGEINT)) AS sy,
        |    SUM(CAST(CAST(l_discount AS DECIMAL(18,2)) * 100 AS HUGEINT)) AS sz,
        |    SUM(CAST(l_quantity AS HUGEINT) * CAST(l_quantity AS HUGEINT)) AS sxx,
        |    SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS HUGEINT) * CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS HUGEINT)) AS syy,
        |    SUM(CAST(CAST(l_discount AS DECIMAL(18,2)) * 100 AS HUGEINT) * CAST(CAST(l_discount AS DECIMAL(18,2)) * 100 AS HUGEINT)) AS szz,
        |    SUM(CAST(l_quantity AS HUGEINT) * CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS HUGEINT)) AS sxy,
        |    SUM(CAST(l_quantity AS HUGEINT) * CAST(CAST(l_discount AS DECIMAL(18,2)) * 100 AS HUGEINT)) AS sxz,
        |    SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS HUGEINT) * CAST(CAST(l_discount AS DECIMAL(18,2)) * 100 AS HUGEINT)) AS syz
        |  FROM lineitem),
        |rr AS (SELECT n,
        |    (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
        |      / sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
        |          * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))) AS rxy,
        |    (CAST(n AS DOUBLE) * CAST(sxz AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sz AS DOUBLE))
        |      / sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
        |          * (CAST(n AS DOUBLE) * CAST(szz AS DOUBLE) - CAST(sz AS DOUBLE) * CAST(sz AS DOUBLE))) AS rxz,
        |    (CAST(n AS DOUBLE) * CAST(syz AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sz AS DOUBLE))
        |      / sqrt((CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))
        |          * (CAST(n AS DOUBLE) * CAST(szz AS DOUBLE) - CAST(sz AS DOUBLE) * CAST(sz AS DOUBLE))) AS ryz
        |  FROM g)
        |SELECT CAST(n AS BIGINT) AS n,
        |  CAST(CAST(rxy AS DECIMAL(18,9)) AS DOUBLE) AS r_xy,
        |  CAST(CAST(rxz AS DECIMAL(18,9)) AS DOUBLE) AS r_xz,
        |  CAST(CAST(ryz AS DECIMAL(18,9)) AS DOUBLE) AS r_yz,
        |  CASE WHEN sqrt((1 - rxz * rxz) * (1 - ryz * ryz)) > 0
        |    THEN CAST(CAST((rxy - rxz * ryz) / sqrt((1 - rxz * rxz) * (1 - ryz * ryz))
        |      AS DECIMAL(18,9)) AS DOUBLE) END AS r_xy_given_z
        |FROM rr""".stripMargin,
    "q316_mantel_haenszel" ->
      // per-stratum exact cells; each cross-product/N term quantized
      // DECIMAL(28,12) pre-sum; pooled OR one division; Haldane per-stratum
      """WITH j AS (SELECT c_mktsegment AS stratum, c_acctbal < 0 AS ex,
        |    o_orderstatus = 'F' AS oc
        |  FROM orders JOIN customer ON o_custkey = c_custkey),
        |cells AS (SELECT stratum,
        |    SUM(CASE WHEN ex AND oc THEN 1 ELSE 0 END) AS n11,
        |    SUM(CASE WHEN ex AND NOT oc THEN 1 ELSE 0 END) AS n10,
        |    SUM(CASE WHEN NOT ex AND oc THEN 1 ELSE 0 END) AS n01,
        |    SUM(CASE WHEN NOT ex AND NOT oc THEN 1 ELSE 0 END) AS n00
        |  FROM j GROUP BY 1),
        |t AS (SELECT
        |    SUM(CAST(CAST(CAST(n11 AS HUGEINT) * n00 AS DOUBLE) / CAST(n11 + n10 + n01 + n00 AS DOUBLE) AS DECIMAL(28,12))) AS r,
        |    SUM(CAST(CAST(CAST(n10 AS HUGEINT) * n01 AS DOUBLE) / CAST(n11 + n10 + n01 + n00 AS DOUBLE) AS DECIMAL(28,12))) AS s
        |  FROM cells),
        |p AS (SELECT CASE WHEN s > 0 THEN CAST(CAST(CAST(r AS DOUBLE) / CAST(s AS DOUBLE) AS DECIMAL(18,6)) AS DOUBLE) END AS mh_or FROM t)
        |SELECT stratum, CAST(n11 AS BIGINT) AS n11, CAST(n10 AS BIGINT) AS n10,
        |  CAST(n01 AS BIGINT) AS n01, CAST(n00 AS BIGINT) AS n00,
        |  CAST(CAST((CAST(n11 AS DOUBLE) + 0.5) * (CAST(n00 AS DOUBLE) + 0.5)
        |    / ((CAST(n10 AS DOUBLE) + 0.5) * (CAST(n01 AS DOUBLE) + 0.5)) AS DECIMAL(18,6)) AS DOUBLE) AS stratum_or,
        |  mh_or
        |FROM cells CROSS JOIN p ORDER BY stratum""".stripMargin,
    "q317_dunn" ->
      // q289's doubled-rank margin; mean-rank z per pair quantized 9 dp;
      // Chernoff p feeds the BH step-up lattice (q256's shape)
      """WITH cells AS (SELECT CAST(o_totalprice AS DECIMAL(18,2)) AS v,
        |    o_orderpriority AS grp, COUNT(*) AS cnt FROM orders GROUP BY 1, 2),
        |margin AS (SELECT v, SUM(cnt) AS cntv FROM cells GROUP BY 1),
        |r AS (SELECT v, cntv,
        |    SUM(cntv) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - cntv AS cumb
        |  FROM margin),
        |rd AS (SELECT v, 2 * cumb + cntv + 1 AS dr FROM r),
        |pg AS (SELECT grp, SUM(cnt) AS n, SUM(CAST(cnt AS HUGEINT) * rd.dr) AS dr2
        |  FROM cells JOIN rd USING (v) GROUP BY 1),
        |ties AS (SELECT SUM(CAST(cntv AS HUGEINT) * cntv * cntv - cntv) AS tie3,
        |    SUM(cntv) AS ntot FROM margin),
        |pr AS (SELECT a.grp AS ga, a.n AS na, a.dr2 AS da, b.grp AS gb, b.n AS nb, b.dr2 AS db
        |  FROM pg a CROSS JOIN pg b WHERE a.grp < b.grp),
        |z AS (SELECT ga, gb,
        |    CAST(CAST((CAST(da AS DOUBLE) / (2 * CAST(na AS DOUBLE)) - CAST(db AS DOUBLE) / (2 * CAST(nb AS DOUBLE)))
        |      / sqrt((CAST(ntot AS DOUBLE) * (CAST(ntot AS DOUBLE) + 1) / 12
        |          - CAST(tie3 AS DOUBLE) / (12 * (CAST(ntot AS DOUBLE) - 1)))
        |        * (1 / CAST(na AS DOUBLE) + 1 / CAST(nb AS DOUBLE)))
        |      AS DECIMAL(18,9)) AS DOUBLE) AS z
        |  FROM pr CROSS JOIN ties),
        |pz AS (SELECT ga, gb, ga || '|' || gb AS pair, z,
        |    CAST(exp(z * z * -0.5) AS DECIMAL(18,9)) AS p FROM z),
        |b2 AS (SELECT pair, ga, gb, z, p, COUNT(*) OVER () AS m,
        |    row_number() OVER (ORDER BY p, pair) AS rnk FROM pz),
        |q AS (SELECT pair, ga, gb, z, p, rnk,
        |    least(1000000000, min((CAST(round(CAST(p AS DOUBLE) * 1e9) AS BIGINT) * m) // rnk)
        |      OVER (ORDER BY p DESC, pair DESC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) AS qn
        |  FROM b2),
        |istar AS (SELECT COALESCE(MAX(CASE WHEN CAST(round(CAST(p AS DOUBLE) * 1e9) AS BIGINT) * m <= 50000000 * rnk THEN rnk END), 0) AS i_star FROM b2)
        |SELECT ga, gb, z, CAST(p AS DOUBLE) AS p, CAST(qn AS DOUBLE) / 1e9 AS q,
        |  CASE WHEN rnk <= i_star THEN 1 ELSE 0 END AS rejected
        |FROM q CROSS JOIN istar ORDER BY ga, gb""".stripMargin,
    "q313_digit_uniformity" ->
      // χ² = (100·Σo² − n²)/n — exact integer numerator, one division;
      // top-5 endings by count
      """WITH cells AS (SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) % 100 AS ending,
        |    COUNT(*) AS o FROM orders GROUP BY 1),
        |chi AS (SELECT SUM(o) AS n, COUNT(*) AS k,
        |    CAST(CAST(100 * SUM(CAST(o AS HUGEINT) * o) - CAST(SUM(o) AS HUGEINT) * SUM(o) AS DOUBLE)
        |      / CAST(SUM(o) AS DOUBLE) AS DECIMAL(18,6)) AS chi2
        |  FROM cells)
        |SELECT ending, CAST(o AS BIGINT) AS n_ending, CAST(n AS BIGINT) AS n,
        |  CAST(CAST(CAST(o AS DOUBLE) * 100 / CAST(n AS DOUBLE) AS DECIMAL(18,9)) AS DOUBLE) AS rel_freq_pct,
        |  CAST(chi2 AS DOUBLE) AS chi2
        |FROM cells CROSS JOIN chi
        |ORDER BY n_ending DESC, ending LIMIT 5""".stripMargin,
    "q286_markov_entropy" ->
      // same lag pairs; π(i)·p·log₂p terms DECIMAL(28,12) pre-sum with
      // ln2 as the engine-exact literal divisor
      """WITH pr AS (SELECT lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type,
        |    event_type AS next_type FROM events),
        |counts AS (SELECT prev_type, next_type, count(*) AS n FROM pr WHERE prev_type IS NOT NULL GROUP BY 1, 2),
        |totals AS (SELECT prev_type, SUM(n) AS n_from FROM counts GROUP BY 1),
        |grand AS (SELECT SUM(n_from) AS n_all FROM totals),
        |t AS (SELECT prev_type,
        |    CAST((CAST(n_from AS DOUBLE) / CAST(n_all AS DOUBLE))
        |      * (CAST(n AS DOUBLE) / CAST(n_from AS DOUBLE))
        |      * (ln(CAST(n AS DOUBLE) / CAST(n_from AS DOUBLE)) / 0.6931471805599453)
        |      AS DECIMAL(28,12)) AS term
        |  FROM counts JOIN totals USING (prev_type) CROSS JOIN grand)
        |SELECT CAST(COUNT(DISTINCT prev_type) AS BIGINT) AS n_states,
        |  CAST(COUNT(*) AS BIGINT) AS n_cells,
        |  CAST(CAST(CAST(SUM(term) AS DOUBLE) * -1 AS DECIMAL(18,9)) AS DOUBLE) AS entropy_rate_bits
        |FROM t""".stripMargin,
    "q287_kfold_cv" ->
      // same md5 folds; leave-fold-out means from one (group×fold)
      // aggregate; per-row se DECIMAL(28,6) pre-sum; mirrored summary
      """WITH base AS (SELECT o_orderpriority AS grp,
        |    CAST(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS DECIMAL(28,0)) AS BIGINT) AS yc,
        |    CAST('0x' || substring(md5('cv:' || CAST(o_orderkey AS VARCHAR)), 1, 8) AS BIGINT) % 5 AS f
        |  FROM orders),
        |cells AS (SELECT grp, f, COUNT(*) AS nc, SUM(yc) AS sc FROM base GROUP BY 1, 2),
        |gt AS (SELECT grp, SUM(nc) AS ng, SUM(sc) AS sg FROM cells GROUP BY 1),
        |lfo AS (SELECT grp, f, ng - nc AS nTrain, CAST(sg - sc AS BIGINT) AS sTrain
        |  FROM cells JOIN gt USING (grp)),
        |l2 AS (SELECT grp, f, nTrain, (sTrain * 20000 + nTrain) // (2 * nTrain) AS yhatMicro
        |  FROM lfo WHERE nTrain > 0),
        |scored AS (SELECT b.f,
        |    CAST(b.yc * 10000 - l.yhatMicro AS DECIMAL(28,0)) * CAST(b.yc * 10000 - l.yhatMicro AS DECIMAL(28,0)) AS se
        |  FROM base b JOIN l2 l ON b.grp = l.grp AND b.f = l.f),
        |folds AS (SELECT f, COUNT(*) AS n,
        |    CAST(CAST(SUM(se) AS DOUBLE) / (CAST(COUNT(*) AS DOUBLE) * 1e12) AS DECIMAL(18,0)) AS mse FROM scored GROUP BY 1),
        |summ AS (SELECT CAST(SUM(mse) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS mean_mse,
        |    COUNT(*) AS kk, SUM(CAST(mse AS DECIMAL(28,0)) * CAST(mse AS DECIMAL(28,0))) AS mse2 FROM folds)
        |SELECT CAST(f AS BIGINT) AS fold, CAST(n AS BIGINT) AS n_rows, CAST(mse AS DOUBLE) AS mse,
        |  mean_mse,
        |  CASE WHEN kk > 1 THEN sqrt(greatest(0, (CAST(mse2 AS DOUBLE) - CAST(kk AS DOUBLE) * mean_mse * mean_mse) / CAST(kk - 1 AS DOUBLE))) END AS sd_mse
        |FROM folds CROSS JOIN summ ORDER BY fold""".stripMargin,
    "q284_eb_shrinkage" ->
      // same item collapse; rate moments DECIMAL(28,12) pre-sum; MoM
      // prior + posterior means as mirrored chains
      """WITH items AS (SELECT l_partkey AS item, COUNT(*) AS n,
        |    COUNT(CASE WHEN l_returnflag = 'R' THEN 1 END) AS s FROM lineitem GROUP BY 1),
        |ir AS (SELECT item, n, s, CAST(CAST(s AS DOUBLE) / CAST(n AS DOUBLE) AS DECIMAL(18,12)) AS r FROM items),
        |mom AS (SELECT COUNT(*) AS k, SUM(r) AS sr, SUM(r * r) AS srr FROM ir),
        |prior AS (SELECT
        |    CASE WHEN CAST(srr AS DOUBLE) / CAST(k AS DOUBLE) - (CAST(sr AS DOUBLE) / CAST(k AS DOUBLE)) * (CAST(sr AS DOUBLE) / CAST(k AS DOUBLE)) > 0
        |          AND CAST(srr AS DOUBLE) / CAST(k AS DOUBLE) - (CAST(sr AS DOUBLE) / CAST(k AS DOUBLE)) * (CAST(sr AS DOUBLE) / CAST(k AS DOUBLE))
        |              < (CAST(sr AS DOUBLE) / CAST(k AS DOUBLE)) * (1 - CAST(sr AS DOUBLE) / CAST(k AS DOUBLE))
        |      THEN (CAST(sr AS DOUBLE) / CAST(k AS DOUBLE)) * ((CAST(sr AS DOUBLE) / CAST(k AS DOUBLE)) * (1 - CAST(sr AS DOUBLE) / CAST(k AS DOUBLE))
        |          / (CAST(srr AS DOUBLE) / CAST(k AS DOUBLE) - (CAST(sr AS DOUBLE) / CAST(k AS DOUBLE)) * (CAST(sr AS DOUBLE) / CAST(k AS DOUBLE))) - 1)
        |      ELSE 0 END AS alpha,
        |    CASE WHEN CAST(srr AS DOUBLE) / CAST(k AS DOUBLE) - (CAST(sr AS DOUBLE) / CAST(k AS DOUBLE)) * (CAST(sr AS DOUBLE) / CAST(k AS DOUBLE)) > 0
        |          AND CAST(srr AS DOUBLE) / CAST(k AS DOUBLE) - (CAST(sr AS DOUBLE) / CAST(k AS DOUBLE)) * (CAST(sr AS DOUBLE) / CAST(k AS DOUBLE))
        |              < (CAST(sr AS DOUBLE) / CAST(k AS DOUBLE)) * (1 - CAST(sr AS DOUBLE) / CAST(k AS DOUBLE))
        |      THEN (1 - CAST(sr AS DOUBLE) / CAST(k AS DOUBLE)) * ((CAST(sr AS DOUBLE) / CAST(k AS DOUBLE)) * (1 - CAST(sr AS DOUBLE) / CAST(k AS DOUBLE))
        |          / (CAST(srr AS DOUBLE) / CAST(k AS DOUBLE) - (CAST(sr AS DOUBLE) / CAST(k AS DOUBLE)) * (CAST(sr AS DOUBLE) / CAST(k AS DOUBLE))) - 1)
        |      ELSE 0 END AS beta
        |  FROM mom)
        |SELECT item, n, s,
        |  CAST(CAST(CAST(r AS DOUBLE) AS DECIMAL(18,6)) AS DOUBLE) AS raw_rate,
        |  CAST(CAST((CAST(s AS DOUBLE) + alpha) / (CAST(n AS DOUBLE) + alpha + beta) AS DECIMAL(18,6)) AS DOUBLE) AS shrunk_rate
        |FROM ir CROSS JOIN prior
        |ORDER BY shrunk_rate DESC, item LIMIT 20""".stripMargin,
    "q285_slo_burn" ->
      // same hour collapse; rolling long window; exact-share burn chains
      """WITH hourly AS (SELECT strftime(ts, '%Y-%m-%d %H') AS hour, count(*) AS t,
        |    COUNT(CASE WHEN event_type = 'error' THEN 1 END) AS e FROM events GROUP BY 1),
        |r AS (SELECT hour, t, e,
        |    SUM(t) OVER w AS lt, SUM(e) OVER w AS le FROM hourly
        |  WINDOW w AS (ORDER BY hour ROWS BETWEEN 5 PRECEDING AND CURRENT ROW))
        |SELECT hour, CAST(t AS BIGINT) AS n_requests, CAST(e AS BIGINT) AS n_errors,
        |  CAST(CAST(CAST(e AS DOUBLE) / CAST(t AS DOUBLE) / 0.25 AS DECIMAL(18,6)) AS DOUBLE) AS burn_1h,
        |  CAST(CAST(CAST(le AS DOUBLE) / CAST(lt AS DOUBLE) / 0.25 AS DECIMAL(18,6)) AS DOUBLE) AS burn_long,
        |  CASE WHEN CAST(e AS DOUBLE) / CAST(t AS DOUBLE) / 0.25 > 1
        |        AND CAST(le AS DOUBLE) / CAST(lt AS DOUBLE) / 0.25 > 1 THEN 1 ELSE 0 END AS alert
        |FROM r ORDER BY hour""".stripMargin,
    "q282_tukey" ->
      // same per-group exact moments; MSW one chain; k² pair lattice
      """WITH g AS (SELECT o_orderpriority AS grp, COUNT(*) AS n,
        |    SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS s1,
        |    SUM(CAST(o_totalprice AS DECIMAL(18,2)) * CAST(o_totalprice AS DECIMAL(18,2))) AS s2
        |  FROM orders GROUP BY 1),
        |p AS (SELECT SUM(n) AS nt, COUNT(*) AS k, CAST(SUM(s2) AS DOUBLE) AS t2d,
        |    CAST(SUM(CAST(CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE) AS DECIMAL(38,6))) AS DOUBLE) AS qsumd
        |  FROM g),
        |m AS (SELECT nt, k, (t2d - qsumd) / CAST(nt - k AS DOUBLE) AS msw FROM p)
        |SELECT a.grp AS ga, b.grp AS gb,
        |  CAST(CAST(CAST(a.s1 AS DOUBLE) / CAST(a.n AS DOUBLE) AS DECIMAL(18,6)) AS DOUBLE) AS mean_a,
        |  CAST(CAST(CAST(b.s1 AS DOUBLE) / CAST(b.n AS DOUBLE) AS DECIMAL(18,6)) AS DOUBLE) AS mean_b,
        |  CAST(CAST(CAST(a.s1 AS DOUBLE) / CAST(a.n AS DOUBLE) - CAST(b.s1 AS DOUBLE) / CAST(b.n AS DOUBLE) AS DECIMAL(18,6)) AS DOUBLE) AS diff,
        |  CASE WHEN m.msw > 0 THEN CAST(CAST(
        |    (CAST(a.s1 AS DOUBLE) / CAST(a.n AS DOUBLE) - CAST(b.s1 AS DOUBLE) / CAST(b.n AS DOUBLE))
        |      / sqrt(m.msw / 2 * (1 / CAST(a.n AS DOUBLE) + 1 / CAST(b.n AS DOUBLE)))
        |    AS DECIMAL(18,9)) AS DOUBLE) END AS q_stat
        |FROM g a CROSS JOIN g b CROSS JOIN m
        |WHERE a.grp < b.grp ORDER BY ga, gb""".stripMargin,
    "q283_sprt" ->
      // LLR increments and bounds are the ENGINE's exact double literals
      // (ln provenance never compared); day terms DECIMAL(28,9) pre-cumsum
      """WITH daily AS (SELECT strftime(ts, '%Y-%m-%d') AS day, count(*) AS t,
        |    COUNT(CASE WHEN event_type = 'purchase' THEN 1 END) AS s FROM events GROUP BY 1),
        |c AS (SELECT day, SUM(CAST(CAST(s AS DOUBLE) * 0.20067069546215124
        |    + CAST(t - s AS DOUBLE) * -0.05001042057466142 AS DECIMAL(28,9)))
        |    OVER (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS llr
        |  FROM daily),
        |agg AS (SELECT
        |    min(CASE WHEN CAST(llr AS DOUBLE) >= 2.772588722239781
        |          OR CAST(llr AS DOUBLE) <= -1.5581446180465497 THEN day END) AS crossing_day,
        |    COUNT(*) AS n_days, arg_max(llr, day) AS fin FROM c)
        |SELECT crossing_day, CAST(n_days AS BIGINT) AS n_days,
        |  CAST(fin AS DOUBLE) AS final_llr,
        |  CASE WHEN CAST(fin AS DOUBLE) >= 2.772588722239781 THEN 'accept_h1'
        |       WHEN CAST(fin AS DOUBLE) <= -1.5581446180465497 THEN 'accept_h0'
        |       ELSE 'continue' END AS decision
        |FROM agg""".stripMargin,
    "q278_levene" ->
      // exact integer cents; half-up integer-division centers; the ANOVA
      // lattice on exact integer deviations (term headroom DECIMAL(38,6))
      """WITH ctr AS (SELECT o_orderpriority AS grp,
        |    CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS DECIMAL(28,0))) AS BIGINT) AS scl,
        |    COUNT(*) AS ng
        |  FROM orders GROUP BY 1),
        |d AS (SELECT o.o_orderpriority AS grp,
        |    CAST(abs(CAST(CAST(CAST(o.o_totalprice AS DECIMAL(18,2)) * 100 AS DECIMAL(28,0)) AS BIGINT)
        |      - (ctr.scl * 2 + ctr.ng) // (2 * ctr.ng)) AS DECIMAL(28,0)) AS adev
        |  FROM orders o JOIN ctr ON o.o_orderpriority = ctr.grp),
        |g AS (SELECT grp, COUNT(*) AS n, SUM(adev) AS s1,
        |    SUM(CAST(adev AS DECIMAL(28,0)) * CAST(adev AS DECIMAL(28,0))) AS s2 FROM d GROUP BY 1),
        |q AS (SELECT n, s1, s2,
        |    CAST(CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE) AS DECIMAL(38,6)) AS term FROM g),
        |t AS (SELECT COUNT(*) AS k, CAST(SUM(n) AS BIGINT) AS n,
        |    CAST(SUM(s1) AS DOUBLE) AS t1d, CAST(SUM(s2) AS DOUBLE) AS t2d,
        |    CAST(SUM(term) AS DOUBLE) AS qsumd FROM q),
        |s AS (SELECT k, n, qsumd - t1d * t1d / CAST(n AS DOUBLE) AS ss_between,
        |    t2d - qsumd AS ss_within FROM t)
        |SELECT k, n, ss_between, ss_within,
        |  ss_between / CAST(k - 1 AS DOUBLE) / (ss_within / CAST(n - k AS DOUBLE)) AS w_stat
        |FROM s""".stripMargin,
    "q279_hellinger" ->
      // q142's smoothed cells; √(p·q) DECIMAL(28,12) pre-sum; BC + H
      """WITH e AS (SELECT value AS v FROM events WHERE event_type = 'view'),
        |a AS (SELECT value AS v FROM events WHERE event_type = 'purchase'),
        |s AS (SELECT min(v) AS lo, (max(v) - min(v)) / 10 AS w FROM e),
        |eb AS (SELECT LEAST(9, GREATEST(0, CAST(FLOOR((v - lo) / w) AS INT))) AS bin,
        |              COUNT(*) AS en FROM e, s GROUP BY 1),
        |ab AS (SELECT LEAST(9, GREATEST(0, CAST(FLOOR((v - lo) / w) AS INT))) AS bin,
        |              COUNT(*) AS an FROM a, s GROUP BY 1),
        |cells AS (SELECT CAST(r.range AS INT) AS bin,
        |                 COALESCE(en, 0) AS expected_n, COALESCE(an, 0) AS actual_n
        |          FROM range(0, 10) r
        |          LEFT JOIN eb ON eb.bin = r.range LEFT JOIN ab ON ab.bin = r.range),
        |tot AS (SELECT SUM(expected_n) AS ne, SUM(actual_n) AS na FROM cells),
        |terms AS (SELECT
        |    (CAST(expected_n AS DOUBLE) + CAST(0.5 AS DOUBLE)) / (CAST(ne AS DOUBLE) + CAST(5 AS DOUBLE)) AS p,
        |    (CAST(actual_n AS DOUBLE) + CAST(0.5 AS DOUBLE)) / (CAST(na AS DOUBLE) + CAST(5 AS DOUBLE)) AS q
        |  FROM cells, tot),
        |bc AS (SELECT SUM(CAST(sqrt(p * q) AS DECIMAL(28,12))) AS bcSum FROM terms)
        |SELECT CAST(CAST(CAST(bcSum AS DOUBLE) AS DECIMAL(18,9)) AS DOUBLE) AS bhattacharyya,
        |  CAST(CAST(sqrt(greatest(0, 1 - CAST(bcSum AS DOUBLE))) AS DECIMAL(18,9)) AS DOUBLE) AS hellinger
        |FROM bc""".stripMargin,
    "q280_mmd" ->
      // same caps (lowest 200 ids/side), γ = 2⁻⁶ (binary-exact), the q64
      // float-product/double-sum dot recipe, DECIMAL(18,5) kernel terms
      """WITH x AS (SELECT vec_id AS xid, embedding AS xv,
        |    list_sum(list_transform(embedding, e -> CAST(e AS DOUBLE) * CAST(e AS DOUBLE))) AS xn
        |  FROM embeddings WHERE label = 0 ORDER BY vec_id LIMIT 200),
        |y AS (SELECT vec_id AS yid, embedding AS yv,
        |    list_sum(list_transform(embedding, e -> CAST(e AS DOUBLE) * CAST(e AS DOUBLE))) AS yn
        |  FROM embeddings WHERE label <> 0 ORDER BY vec_id LIMIT 200),
        |m AS (SELECT COUNT(*) AS m FROM x), nn AS (SELECT COUNT(*) AS n FROM y),
        |sxx AS (SELECT SUM(CAST(exp(-0.015625 * (a.xn + b.xn - 2 *
        |      list_sum(list_transform(list_zip(a.xv, b.xv), p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))))
        |    AS DECIMAL(18,5))) AS sxx
        |  FROM x a JOIN x b ON a.xid < b.xid),
        |syy AS (SELECT SUM(CAST(exp(-0.015625 * (a.yn + b.yn - 2 *
        |      list_sum(list_transform(list_zip(a.yv, b.yv), p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))))
        |    AS DECIMAL(18,5))) AS syy
        |  FROM y a JOIN y b ON a.yid < b.yid),
        |sxy AS (SELECT SUM(CAST(exp(-0.015625 * (x.xn + y.yn - 2 *
        |      list_sum(list_transform(list_zip(x.xv, y.yv), p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))))
        |    AS DECIMAL(18,5))) AS sxy
        |  FROM x CROSS JOIN y)
        |SELECT CAST(m.m AS BIGINT) AS m, CAST(nn.n AS BIGINT) AS n,
        |  CAST(CAST(2 * CAST(sxx AS DOUBLE) / (CAST(m.m AS DOUBLE) * (CAST(m.m AS DOUBLE) - 1))
        |    + 2 * CAST(syy AS DOUBLE) / (CAST(nn.n AS DOUBLE) * (CAST(nn.n AS DOUBLE) - 1))
        |    - 2 * CAST(sxy AS DOUBLE) / (CAST(m.m AS DOUBLE) * CAST(nn.n AS DOUBLE))
        |    AS DECIMAL(18,9)) AS DOUBLE) AS mmd2
        |FROM sxx CROSS JOIN syy CROSS JOIN sxy CROSS JOIN m CROSS JOIN nn""".stripMargin,
    "q281_durbin_watson" ->
      // same day series; OLS from exact moments; residual terms
      // DECIMAL(28,9) pre-sum; one DW division
      """WITH daily AS (SELECT strftime(ts, '%Y-%m-%d') AS day, count(*) AS x FROM events GROUP BY 1),
        |ts AS (SELECT day, x, CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS t FROM daily),
        |mom AS (SELECT COUNT(*) AS n, SUM(t) AS st, SUM(x) AS sx,
        |    SUM(CAST(t AS HUGEINT) * x) AS stx, SUM(CAST(t AS HUGEINT) * t) AS stt FROM ts),
        |r AS (SELECT t,
        |    CAST(x AS DOUBLE) - ((CAST(sx AS DOUBLE) - ((CAST(n AS DOUBLE) * CAST(stx AS DOUBLE) - CAST(st AS DOUBLE) * CAST(sx AS DOUBLE))
        |        / (CAST(n AS DOUBLE) * CAST(stt AS DOUBLE) - CAST(st AS DOUBLE) * CAST(st AS DOUBLE))) * CAST(st AS DOUBLE)) / CAST(n AS DOUBLE)
        |      + ((CAST(n AS DOUBLE) * CAST(stx AS DOUBLE) - CAST(st AS DOUBLE) * CAST(sx AS DOUBLE))
        |        / (CAST(n AS DOUBLE) * CAST(stt AS DOUBLE) - CAST(st AS DOUBLE) * CAST(st AS DOUBLE))) * CAST(t AS DOUBLE)) AS e
        |  FROM ts CROSS JOIN mom),
        |lagd AS (SELECT e, lag(e) OVER (ORDER BY t) AS ep FROM r),
        |agg AS (SELECT COUNT(*) AS n_days,
        |    SUM(CAST(e * e AS DECIMAL(28,9))) AS se2,
        |    SUM(CASE WHEN ep IS NOT NULL THEN CAST((e - ep) * (e - ep) AS DECIMAL(28,9)) ELSE CAST(0 AS DECIMAL(28,9)) END) AS sd2
        |  FROM lagd)
        |SELECT CAST(n_days AS BIGINT) AS n_days,
        |  CASE WHEN se2 > 0 THEN CAST(CAST(CAST(sd2 AS DOUBLE) / CAST(se2 AS DOUBLE) AS DECIMAL(18,9)) AS DOUBLE) END AS dw
        |FROM agg""".stripMargin,
    "q276_copula" ->
      // same margin collapse, doubled average ranks, exact integer
      // decile arithmetic — ties land in one bucket on both engines
      """WITH cells AS (SELECT l_quantity AS x, l_extendedprice AS y, count(*) AS cnt FROM lineitem GROUP BY 1, 2),
        |mx AS (SELECT x, least(9, CAST(floor((2 * (SUM(nv) OVER (ORDER BY x ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - nv) + nv + 1 - 1) * 10
        |         / (2 * SUM(nv) OVER ())) AS BIGINT)) AS bx
        |  FROM (SELECT x, SUM(cnt) AS nv FROM cells GROUP BY 1)),
        |my AS (SELECT y, least(9, CAST(floor((2 * (SUM(nv) OVER (ORDER BY y ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - nv) + nv + 1 - 1) * 10
        |         / (2 * SUM(nv) OVER ())) AS BIGINT)) AS by
        |  FROM (SELECT y, SUM(cnt) AS nv FROM cells GROUP BY 1))
        |SELECT bx, by, CAST(SUM(cnt) AS BIGINT) AS n
        |FROM cells JOIN mx USING (x) JOIN my USING (y)
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q277_cat_assoc" ->
      // per pair: one contingency collapse; chi-square and entropy terms
      // quantized DECIMAL(28,9) pre-sum; V and U as mirrored chains
      """WITH src AS (SELECT o_orderstatus AS status, o_orderpriority AS priority,
        |    strftime(o_orderdate, '%Y-%m') AS month FROM orders),
        |pair1 AS (
        |  WITH cells AS (SELECT CAST(status AS VARCHAR) AS av, CAST(priority AS VARCHAR) AS bv, count(*) AS c FROM src GROUP BY 1, 2),
        |  nn AS (SELECT SUM(c) AS n FROM cells),
        |  ra AS (SELECT av, SUM(c) AS ca FROM cells GROUP BY 1),
        |  rb AS (SELECT bv, SUM(c) AS cb FROM cells GROUP BY 1),
        |  grid AS (SELECT ra.av, rb.bv, ra.ca, rb.cb, coalesce(cells.c, 0) AS c
        |    FROM ra CROSS JOIN rb LEFT JOIN cells USING (av, bv)),
        |  ag AS (SELECT first(nn.n) AS n,
        |      SUM(CAST((CAST(c AS DOUBLE) - CAST(ca AS DOUBLE) * CAST(cb AS DOUBLE) / CAST(nn.n AS DOUBLE))
        |        * (CAST(c AS DOUBLE) - CAST(ca AS DOUBLE) * CAST(cb AS DOUBLE) / CAST(nn.n AS DOUBLE))
        |        / (CAST(ca AS DOUBLE) * CAST(cb AS DOUBLE) / CAST(nn.n AS DOUBLE)) AS DECIMAL(28,9))) AS chi2,
        |      COUNT(DISTINCT av) AS r, COUNT(DISTINCT bv) AS cdim,
        |      SUM(CASE WHEN c > 0 THEN CAST(CAST(c AS DOUBLE) / CAST(nn.n AS DOUBLE) * ln(CAST(c AS DOUBLE) / CAST(cb AS DOUBLE)) AS DECIMAL(28,9)) ELSE CAST(0 AS DECIMAL(28,9)) END) AS hcneg
        |    FROM grid CROSS JOIN nn),
        |  ha AS (SELECT SUM(CAST(CAST(ca AS DOUBLE) / CAST(nn.n AS DOUBLE) * ln(CAST(ca AS DOUBLE) / CAST(nn.n AS DOUBLE)) AS DECIMAL(28,9))) AS haneg FROM ra CROSS JOIN nn)
        |  SELECT 'status' AS col_a, 'priority' AS col_b,
        |    CASE WHEN least(r, cdim) - 1 > 0 AND n > 0 THEN CAST(CAST(sqrt(CAST(chi2 AS DOUBLE) / (CAST(n AS DOUBLE) * CAST(least(r, cdim) - 1 AS DOUBLE))) AS DECIMAL(18,6)) AS DOUBLE) END AS cramers_v,
        |    CASE WHEN CAST(haneg AS DOUBLE) * -1 > 0 THEN CAST(CAST((CAST(haneg AS DOUBLE) * -1 - CAST(hcneg AS DOUBLE) * -1) / (CAST(haneg AS DOUBLE) * -1) AS DECIMAL(18,6)) AS DOUBLE) END AS theils_u
        |  FROM ag CROSS JOIN ha),
        |pair2 AS (
        |  WITH cells AS (SELECT CAST(priority AS VARCHAR) AS av, CAST(status AS VARCHAR) AS bv, count(*) AS c FROM src GROUP BY 1, 2),
        |  nn AS (SELECT SUM(c) AS n FROM cells),
        |  ra AS (SELECT av, SUM(c) AS ca FROM cells GROUP BY 1),
        |  rb AS (SELECT bv, SUM(c) AS cb FROM cells GROUP BY 1),
        |  grid AS (SELECT ra.av, rb.bv, ra.ca, rb.cb, coalesce(cells.c, 0) AS c
        |    FROM ra CROSS JOIN rb LEFT JOIN cells USING (av, bv)),
        |  ag AS (SELECT first(nn.n) AS n,
        |      SUM(CAST((CAST(c AS DOUBLE) - CAST(ca AS DOUBLE) * CAST(cb AS DOUBLE) / CAST(nn.n AS DOUBLE))
        |        * (CAST(c AS DOUBLE) - CAST(ca AS DOUBLE) * CAST(cb AS DOUBLE) / CAST(nn.n AS DOUBLE))
        |        / (CAST(ca AS DOUBLE) * CAST(cb AS DOUBLE) / CAST(nn.n AS DOUBLE)) AS DECIMAL(28,9))) AS chi2,
        |      COUNT(DISTINCT av) AS r, COUNT(DISTINCT bv) AS cdim,
        |      SUM(CASE WHEN c > 0 THEN CAST(CAST(c AS DOUBLE) / CAST(nn.n AS DOUBLE) * ln(CAST(c AS DOUBLE) / CAST(cb AS DOUBLE)) AS DECIMAL(28,9)) ELSE CAST(0 AS DECIMAL(28,9)) END) AS hcneg
        |    FROM grid CROSS JOIN nn),
        |  ha AS (SELECT SUM(CAST(CAST(ca AS DOUBLE) / CAST(nn.n AS DOUBLE) * ln(CAST(ca AS DOUBLE) / CAST(nn.n AS DOUBLE)) AS DECIMAL(28,9))) AS haneg FROM ra CROSS JOIN nn)
        |  SELECT 'priority', 'status',
        |    CASE WHEN least(r, cdim) - 1 > 0 AND n > 0 THEN CAST(CAST(sqrt(CAST(chi2 AS DOUBLE) / (CAST(n AS DOUBLE) * CAST(least(r, cdim) - 1 AS DOUBLE))) AS DECIMAL(18,6)) AS DOUBLE) END,
        |    CASE WHEN CAST(haneg AS DOUBLE) * -1 > 0 THEN CAST(CAST((CAST(haneg AS DOUBLE) * -1 - CAST(hcneg AS DOUBLE) * -1) / (CAST(haneg AS DOUBLE) * -1) AS DECIMAL(18,6)) AS DOUBLE) END
        |  FROM ag CROSS JOIN ha),
        |pair3 AS (
        |  WITH cells AS (SELECT CAST(status AS VARCHAR) AS av, CAST(month AS VARCHAR) AS bv, count(*) AS c FROM src GROUP BY 1, 2),
        |  nn AS (SELECT SUM(c) AS n FROM cells),
        |  ra AS (SELECT av, SUM(c) AS ca FROM cells GROUP BY 1),
        |  rb AS (SELECT bv, SUM(c) AS cb FROM cells GROUP BY 1),
        |  grid AS (SELECT ra.av, rb.bv, ra.ca, rb.cb, coalesce(cells.c, 0) AS c
        |    FROM ra CROSS JOIN rb LEFT JOIN cells USING (av, bv)),
        |  ag AS (SELECT first(nn.n) AS n,
        |      SUM(CAST((CAST(c AS DOUBLE) - CAST(ca AS DOUBLE) * CAST(cb AS DOUBLE) / CAST(nn.n AS DOUBLE))
        |        * (CAST(c AS DOUBLE) - CAST(ca AS DOUBLE) * CAST(cb AS DOUBLE) / CAST(nn.n AS DOUBLE))
        |        / (CAST(ca AS DOUBLE) * CAST(cb AS DOUBLE) / CAST(nn.n AS DOUBLE)) AS DECIMAL(28,9))) AS chi2,
        |      COUNT(DISTINCT av) AS r, COUNT(DISTINCT bv) AS cdim,
        |      SUM(CASE WHEN c > 0 THEN CAST(CAST(c AS DOUBLE) / CAST(nn.n AS DOUBLE) * ln(CAST(c AS DOUBLE) / CAST(cb AS DOUBLE)) AS DECIMAL(28,9)) ELSE CAST(0 AS DECIMAL(28,9)) END) AS hcneg
        |    FROM grid CROSS JOIN nn),
        |  ha AS (SELECT SUM(CAST(CAST(ca AS DOUBLE) / CAST(nn.n AS DOUBLE) * ln(CAST(ca AS DOUBLE) / CAST(nn.n AS DOUBLE)) AS DECIMAL(28,9))) AS haneg FROM ra CROSS JOIN nn)
        |  SELECT 'status', 'month',
        |    CASE WHEN least(r, cdim) - 1 > 0 AND n > 0 THEN CAST(CAST(sqrt(CAST(chi2 AS DOUBLE) / (CAST(n AS DOUBLE) * CAST(least(r, cdim) - 1 AS DOUBLE))) AS DECIMAL(18,6)) AS DOUBLE) END,
        |    CASE WHEN CAST(haneg AS DOUBLE) * -1 > 0 THEN CAST(CAST((CAST(haneg AS DOUBLE) * -1 - CAST(hcneg AS DOUBLE) * -1) / (CAST(haneg AS DOUBLE) * -1) AS DECIMAL(18,6)) AS DOUBLE) END
        |  FROM ag CROSS JOIN ha)
        |SELECT * FROM pair1 UNION ALL SELECT * FROM pair2 UNION ALL SELECT * FROM pair3
        |ORDER BY col_a, col_b""".stripMargin,
    "q274_url_dedup" ->
      // identical variant derivation and RFC-3986-style normalization:
      // lowercase scheme/host, strip :443/:80 + fragment, drop utm_*,
      // sort surviving params, trim the trailing slash
      """WITH raw AS (SELECT doc_id, CASE doc_id % 4
        |    WHEN 0 THEN 'https://www.' || source || '.example.com/Docs/' || CAST(doc_id % 40 AS VARCHAR)
        |    WHEN 1 THEN 'HTTPS://WWW.' || upper(source) || '.EXAMPLE.COM/Docs/' || CAST(doc_id % 40 AS VARCHAR)
        |    WHEN 2 THEN 'https://www.' || source || '.example.com/Docs/' || CAST(doc_id % 40 AS VARCHAR) || '?utm_source=feed&utm_campaign=x'
        |    ELSE 'https://www.' || source || '.example.com:443/Docs/' || CAST(doc_id % 40 AS VARCHAR) || '#sec-2' END AS url
        |  FROM documents),
        |q AS (SELECT doc_id, url,
        |    list_sort(list_filter(string_split(regexp_extract(regexp_replace(url, '#.*$', ''), '\?([^#]*)', 1), '&'),
        |      p -> NOT (starts_with(p, 'utm_') OR starts_with(p, 'fbclid=') OR starts_with(p, 'gclid=') OR p = ''))) AS kept
        |  FROM raw),
        |c AS (SELECT doc_id,
        |    lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) || '://' ||
        |    regexp_replace(lower(regexp_extract(regexp_replace(url, '#.*$', ''), '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)', 1)), ':(443|80)$', '') ||
        |    regexp_replace(regexp_extract(regexp_replace(url, '#.*$', ''), '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]+([^?#]*)', 1), '/$', '') ||
        |    CASE WHEN len(kept) > 0 THEN '?' || array_to_string(kept, '&') ELSE '' END AS canonical
        |  FROM q)
        |SELECT canonical, count(*) AS n_variants,
        |  array_to_string(list_transform(list_sort(list(doc_id)), x -> CAST(x AS VARCHAR)), ',') AS id_list
        |FROM c GROUP BY 1 HAVING count(*) >= 2 ORDER BY canonical""".stripMargin,
    "q275_dispersion" ->
      // same day-grain collapse; exact moments; one mirrored VMR chain
      """WITH daily AS (SELECT event_type AS key, strftime(ts, '%Y-%m-%d') AS day, count(*) AS x
        |  FROM events GROUP BY 1, 2),
        |g AS (SELECT key, COUNT(*) AS n, SUM(x) AS sx, SUM(CAST(x AS HUGEINT) * x) AS sxx
        |  FROM daily GROUP BY 1)
        |SELECT key, CAST(n AS BIGINT) AS n_days,
        |  CAST(CAST(CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) AS DECIMAL(18,6)) AS DOUBLE) AS mean_daily,
        |  CAST(CAST(((CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)) / (CAST(n AS DOUBLE) - 1))
        |    / (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)) AS DECIMAL(18,9)) AS DOUBLE) AS vmr,
        |  CASE WHEN ((CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)) / (CAST(n AS DOUBLE) - 1))
        |    / (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)) > 2.0 THEN 1 ELSE 0 END AS overdispersed
        |FROM g WHERE n > 1 ORDER BY key""".stripMargin,
    "q272_join_estimate" ->
      // same per-key count tables; HUGEINT-exact truth; one mirrored
      // double chain each for the estimate and its relative error
      """WITH ca AS (SELECT o_orderkey AS k, count(*) AS na FROM orders GROUP BY 1),
        |cb AS (SELECT l_orderkey AS k, count(*) AS nb FROM lineitem GROUP BY 1),
        |sa AS (SELECT SUM(na) AS n_a, COUNT(*) AS d_a FROM ca),
        |sb AS (SELECT SUM(nb) AS n_b, COUNT(*) AS d_b FROM cb),
        |tr AS (SELECT coalesce(SUM(CAST(na AS HUGEINT) * nb), 0) AS actual FROM ca JOIN cb USING (k))
        |SELECT CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
        |  CAST(d_a AS BIGINT) AS d_a, CAST(d_b AS BIGINT) AS d_b,
        |  CAST(CAST(CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE) / CAST(greatest(d_a, d_b) AS DOUBLE) AS DECIMAL(18,6)) AS DOUBLE) AS estimate,
        |  CAST(actual AS BIGINT) AS actual,
        |  CASE WHEN actual > 0 THEN
        |    CAST(CAST((CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE) / CAST(greatest(d_a, d_b) AS DOUBLE) - CAST(actual AS DOUBLE))
        |      / CAST(actual AS DOUBLE) AS DECIMAL(18,6)) AS DOUBLE)
        |  ELSE NULL END AS rel_err
        |FROM sa CROSS JOIN sb CROSS JOIN tr""".stripMargin,
    "q273_fd_discovery" ->
      // one (A,B)-distinct collapse per pair, A-grain image counts,
      // UNION ALL of the three audits
      """WITH p1 AS (SELECT 'o_orderkey' AS lhs, 'o_custkey' AS rhs, COUNT(*) AS n_keys,
        |    COUNT(CASE WHEN nb > 1 THEN 1 END) AS n_violating, MAX(nb) AS max_images
        |  FROM (SELECT av, count(*) AS nb FROM (SELECT DISTINCT o_orderkey AS av, o_custkey AS bv FROM orders) GROUP BY 1)),
        |p2 AS (SELECT 'o_custkey', 'o_orderpriority', COUNT(*),
        |    COUNT(CASE WHEN nb > 1 THEN 1 END), MAX(nb)
        |  FROM (SELECT av, count(*) AS nb FROM (SELECT DISTINCT o_custkey AS av, o_orderpriority AS bv FROM orders) GROUP BY 1)),
        |p3 AS (SELECT 'o_orderstatus', 'o_orderpriority', COUNT(*),
        |    COUNT(CASE WHEN nb > 1 THEN 1 END), MAX(nb)
        |  FROM (SELECT av, count(*) AS nb FROM (SELECT DISTINCT o_orderstatus AS av, o_orderpriority AS bv FROM orders) GROUP BY 1)),
        |u AS (SELECT * FROM p1 UNION ALL SELECT * FROM p2 UNION ALL SELECT * FROM p3)
        |SELECT lhs, rhs, CAST(n_keys AS BIGINT) AS n_keys,
        |  CAST(n_violating AS BIGINT) AS n_violating, CAST(max_images AS BIGINT) AS max_images,
        |  CASE WHEN n_violating = 0 THEN 1 ELSE 0 END AS fd_holds
        |FROM u ORDER BY lhs, rhs""".stripMargin,
    "q268_delta_join" ->
      // the IVM identity, checked from the other side: full-join minus
      // old-join aggregates per nation (deltas only ADD rows, so the
      // difference IS the delta contribution)
      """WITH f AS (SELECT c_nationkey AS grp, count(*) AS n,
        |      SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS sv
        |    FROM orders JOIN customer ON o_custkey = c_custkey GROUP BY 1),
        |o AS (SELECT c_nationkey AS grp, count(*) AS n,
        |      SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS sv
        |    FROM orders JOIN customer ON o_custkey = c_custkey
        |    WHERE o_orderdate < TIMESTAMP '1998-01-01' AND c_custkey % 7 <> 0 GROUP BY 1)
        |SELECT f.grp, f.n - coalesce(o.n, 0) AS n_delta,
        |  CAST(f.sv - coalesce(o.sv, CAST(0 AS DECIMAL(18,2))) AS DOUBLE) AS sum_delta
        |FROM f LEFT JOIN o USING (grp)
        |WHERE f.n - coalesce(o.n, 0) > 0 ORDER BY grp""".stripMargin,
    "q269_stump" ->
      // same distinct-value threshold lattice; impurity chain mirrored
      // term-for-term; argmin by (gini, threshold)
      """WITH cells AS (SELECT CAST(o_totalprice AS DECIMAL(18,2)) AS v, count(*) AS n,
        |    COUNT(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS pos FROM orders GROUP BY 1),
        |cum AS (SELECT v, SUM(n) OVER w AS nl, SUM(pos) OVER w AS posl,
        |    SUM(n) OVER () AS nt, SUM(pos) OVER () AS post FROM cells
        |  WINDOW w AS (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |sc AS (SELECT v, nl, nt, post,
        |    CAST((CAST(nl AS DOUBLE) / CAST(nt AS DOUBLE))
        |        * (1 - (CAST(posl AS DOUBLE) / CAST(nl AS DOUBLE)) * (CAST(posl AS DOUBLE) / CAST(nl AS DOUBLE))
        |           - (1 - CAST(posl AS DOUBLE) / CAST(nl AS DOUBLE)) * (1 - CAST(posl AS DOUBLE) / CAST(nl AS DOUBLE)))
        |      + ((CAST(nt AS DOUBLE) - CAST(nl AS DOUBLE)) / CAST(nt AS DOUBLE))
        |        * (1 - (CAST(post - posl AS DOUBLE) / (CAST(nt AS DOUBLE) - CAST(nl AS DOUBLE))) * (CAST(post - posl AS DOUBLE) / (CAST(nt AS DOUBLE) - CAST(nl AS DOUBLE)))
        |           - (1 - CAST(post - posl AS DOUBLE) / (CAST(nt AS DOUBLE) - CAST(nl AS DOUBLE))) * (1 - CAST(post - posl AS DOUBLE) / (CAST(nt AS DOUBLE) - CAST(nl AS DOUBLE))))
        |      AS DECIMAL(18,9)) AS g
        |  FROM cum WHERE nl < nt)
        |SELECT v AS threshold, CAST(nl AS BIGINT) AS n_left, CAST(nt - nl AS BIGINT) AS n_right,
        |  CAST(g AS DOUBLE) AS split_gini,
        |  CAST(CAST(1 - (CAST(post AS DOUBLE) / CAST(nt AS DOUBLE)) * (CAST(post AS DOUBLE) / CAST(nt AS DOUBLE))
        |      - (1 - CAST(post AS DOUBLE) / CAST(nt AS DOUBLE)) * (1 - CAST(post AS DOUBLE) / CAST(nt AS DOUBLE))
        |    AS DECIMAL(18,9)) AS DOUBLE) AS root_gini
        |FROM sc ORDER BY g, v LIMIT 1""".stripMargin,
    "q270_ipw" ->
      // same stratum cells; per-stratum reweighted term quantized
      // DECIMAL(28,9) before the cross-strata sum; one /N chain
      """WITH cells AS (SELECT event_type AS s, count(*) AS n,
        |    COUNT(CASE WHEN user_id % 2 = 1 THEN 1 END) AS n1,
        |    SUM(CASE WHEN user_id % 2 = 1 THEN CAST(value AS DECIMAL(18,2)) ELSE CAST(0 AS DECIMAL(18,2)) END) AS y1,
        |    SUM(CASE WHEN user_id % 2 = 1 THEN CAST(0 AS DECIMAL(18,2)) ELSE CAST(value AS DECIMAL(18,2)) END) AS y0
        |  FROM events GROUP BY 1),
        |g AS (SELECT SUM(n) AS n_total,
        |    SUM(CASE WHEN n1 > 0 AND n1 < n THEN 0 ELSE 1 END) AS n_degenerate,
        |    SUM(CASE WHEN n1 > 0 AND n1 < n THEN CAST(CAST(y1 AS DOUBLE) * CAST(n AS DOUBLE) / CAST(n1 AS DOUBLE) AS DECIMAL(28,9)) END) AS t1,
        |    SUM(CASE WHEN n1 > 0 AND n1 < n THEN CAST(CAST(y0 AS DOUBLE) * CAST(n AS DOUBLE) / CAST(n - n1 AS DOUBLE) AS DECIMAL(28,9)) END) AS t0,
        |    SUM(CASE WHEN n1 > 0 AND n1 < n THEN n ELSE 0 END) AS n_ok FROM cells)
        |SELECT CAST(n_total AS BIGINT) AS n_total, CAST(n_degenerate AS BIGINT) AS n_degenerate,
        |  CAST(CAST(CAST(t1 AS DOUBLE) / CAST(n_ok AS DOUBLE) AS DECIMAL(18,6)) AS DOUBLE) AS mu_treated,
        |  CAST(CAST(CAST(t0 AS DOUBLE) / CAST(n_ok AS DOUBLE) AS DECIMAL(18,6)) AS DOUBLE) AS mu_control,
        |  CAST(CAST(CAST(t1 AS DOUBLE) / CAST(n_ok AS DOUBLE) - CAST(t0 AS DOUBLE) / CAST(n_ok AS DOUBLE) AS DECIMAL(18,6)) AS DOUBLE) AS ate
        |FROM g""".stripMargin,
    "q271_knee" ->
      // same rank/cumulative curve; normalized chord distance quantized
      // scale 9; argmax by (d, x)
      """WITH counts AS (SELECT l_partkey, count(*) AS c FROM lineitem GROUP BY 1),
        |curve AS (SELECT CAST(row_number() OVER (ORDER BY c DESC, l_partkey) AS BIGINT) AS x,
        |    SUM(c) OVER (ORDER BY c DESC, l_partkey ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS y
        |  FROM counts),
        |ext AS (SELECT CAST(min(x) AS DOUBLE) AS xmin, CAST(max(x) AS DOUBLE) AS xmax,
        |    CAST(min(y) AS DOUBLE) AS ymin, CAST(max(y) AS DOUBLE) AS ymax FROM curve),
        |pts AS (SELECT x, y,
        |    CAST((CAST(y AS DOUBLE) - ymin) / (ymax - ymin) - (CAST(x AS DOUBLE) - xmin) / (xmax - xmin)
        |      AS DECIMAL(18,9)) AS d
        |  FROM curve CROSS JOIN ext)
        |SELECT x AS knee_x, CAST(y AS BIGINT) AS knee_y, CAST(d AS DOUBLE) AS distance
        |FROM pts ORDER BY d DESC, x LIMIT 1""".stripMargin,
    "q267_asof_native" ->
      // q40's oracle verbatim: the native operator must agree with both
      // the union+window form and DuckDB's built-in ASOF JOIN
      """WITH j AS (SELECT o_custkey, o_orderdate, max(o_orderkey) AS o_orderkey
        |           FROM orders GROUP BY 1, 2)
        |SELECT e.event_id, e.user_id, j.o_orderkey
        |FROM events e ASOF JOIN j ON e.user_id = j.o_custkey AND e.ts >= j.o_orderdate
        |ORDER BY e.event_id""".stripMargin,
    "q263_mcnemar" ->
      // same per-unit flag collapse; four exact cells; continuity-
      // corrected chi2 in one mirrored double chain
      """WITH u AS (SELECT user_id,
        |    max(CASE WHEN event_type = 'purchase' AND ts < TIMESTAMP '2024-01-16' THEN 1 ELSE 0 END) AS fb,
        |    max(CASE WHEN event_type = 'purchase' AND ts >= TIMESTAMP '2024-01-16' THEN 1 ELSE 0 END) AS fa
        |  FROM events GROUP BY 1),
        |c AS (SELECT
        |    COUNT(CASE WHEN fb = 1 AND fa = 1 THEN 1 END) AS n11,
        |    COUNT(CASE WHEN fb = 1 AND fa = 0 THEN 1 END) AS n10,
        |    COUNT(CASE WHEN fb = 0 AND fa = 1 THEN 1 END) AS n01,
        |    COUNT(CASE WHEN fb = 0 AND fa = 0 THEN 1 END) AS n00 FROM u)
        |SELECT CAST(n11 AS BIGINT) AS n11, CAST(n10 AS BIGINT) AS n10,
        |  CAST(n01 AS BIGINT) AS n01, CAST(n00 AS BIGINT) AS n00,
        |  CASE WHEN n10 + n01 > 0 THEN
        |    CAST(CAST((abs(CAST(n10 AS DOUBLE) - CAST(n01 AS DOUBLE)) - 1) * (abs(CAST(n10 AS DOUBLE) - CAST(n01 AS DOUBLE)) - 1)
        |      / (CAST(n10 AS DOUBLE) + CAST(n01 AS DOUBLE)) AS DECIMAL(18,9)) AS DOUBLE)
        |  ELSE NULL END AS chi2
        |FROM c""".stripMargin,
    "q264_cochran_armitage" ->
      // identical dose collapse; five HUGEINT-exact moment sums; one
      // mirrored double chain for the trend z
      """WITH lv AS (SELECT CAST(substring(o_orderpriority, 1, 1) AS BIGINT) AS w, count(*) AS n,
        |    COUNT(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS r FROM orders GROUP BY 1),
        |g AS (SELECT SUM(n) AS nn, SUM(r) AS rr, SUM(CAST(w AS HUGEINT) * n) AS swn,
        |    SUM(CAST(w AS HUGEINT) * w * n) AS swwn, SUM(CAST(w AS HUGEINT) * r) AS swr FROM lv)
        |SELECT CAST(nn AS BIGINT) AS n_total, CAST(rr AS BIGINT) AS r_total,
        |  CAST(CAST(CASE WHEN (CAST(rr AS DOUBLE) / CAST(nn AS DOUBLE)) * (1 - CAST(rr AS DOUBLE) / CAST(nn AS DOUBLE))
        |      * (CAST(swwn AS DOUBLE) - CAST(swn AS DOUBLE) * CAST(swn AS DOUBLE) / CAST(nn AS DOUBLE)) <= 0 THEN NULL
        |    ELSE (CAST(swr AS DOUBLE) - CAST(rr AS DOUBLE) * CAST(swn AS DOUBLE) / CAST(nn AS DOUBLE))
        |      / sqrt((CAST(rr AS DOUBLE) / CAST(nn AS DOUBLE)) * (1 - CAST(rr AS DOUBLE) / CAST(nn AS DOUBLE))
        |          * (CAST(swwn AS DOUBLE) - CAST(swn AS DOUBLE) * CAST(swn AS DOUBLE) / CAST(nn AS DOUBLE)))
        |    END AS DECIMAL(18,9)) AS DOUBLE) AS z
        |FROM g""".stripMargin,
    "q265_bradley_terry" ->
      // same contest derivation and win matrix; two unrolled MM steps
      // with DECIMAL(28,12) terms and DECIMAL(18,9) strengths per step
      """WITH li AS (SELECT l_orderkey AS k, l_linenumber AS ln, l_partkey % 20 AS item, l_extendedprice AS v FROM lineitem),
        |co AS (SELECT CASE WHEN a.v > b.v THEN a.item ELSE b.item END AS winner,
        |              CASE WHEN a.v > b.v THEN b.item ELSE a.item END AS loser
        |       FROM li a JOIN li b ON a.k = b.k AND a.ln < b.ln AND a.item <> b.item AND a.v <> b.v),
        |wm AS (SELECT winner AS i, loser AS j, count(*) AS cw FROM co GROUP BY 1, 2),
        |nij AS (SELECT i, j, SUM(cw) AS nij FROM
        |        (SELECT i, j, cw FROM wm UNION ALL SELECT j AS i, i AS j, cw FROM wm) GROUP BY 1, 2),
        |wins AS (SELECT t.i, coalesce(ww.wi, 0) AS wi FROM (SELECT DISTINCT i FROM nij) t
        |         LEFT JOIN (SELECT i, SUM(cw) AS wi FROM wm GROUP BY 1) ww USING (i)),
        |p0 AS (SELECT i, CAST(1 AS DECIMAL(18,9)) AS p FROM wins),
        |d1 AS (SELECT n.i, SUM(CAST(CAST(n.nij AS DOUBLE) / CAST(pi.p + pj.p AS DOUBLE) AS DECIMAL(28,12))) AS den
        |       FROM nij n JOIN p0 pi ON n.i = pi.i JOIN p0 pj ON n.j = pj.i GROUP BY 1),
        |p1 AS (SELECT w.i, CASE WHEN d.den > 0 THEN CAST(CAST(w.wi AS DOUBLE) / CAST(d.den AS DOUBLE) AS DECIMAL(18,9))
        |              ELSE CAST(0 AS DECIMAL(18,9)) END AS p
        |       FROM wins w JOIN d1 d USING (i)),
        |d2 AS (SELECT n.i, SUM(CAST(CAST(n.nij AS DOUBLE) / CAST(pi.p + pj.p AS DOUBLE) AS DECIMAL(28,12))) AS den
        |       FROM nij n JOIN p1 pi ON n.i = pi.i JOIN p1 pj ON n.j = pj.i GROUP BY 1),
        |p2 AS (SELECT w.i, CASE WHEN d.den > 0 THEN CAST(CAST(w.wi AS DOUBLE) / CAST(d.den AS DOUBLE) AS DECIMAL(18,9))
        |              ELSE CAST(0 AS DECIMAL(18,9)) END AS p
        |       FROM wins w JOIN d2 d USING (i))
        |SELECT w.i AS item, CAST(w.wi AS BIGINT) AS wins, CAST(g.games AS BIGINT) AS games,
        |  CAST(p2.p AS DOUBLE) AS strength
        |FROM wins w JOIN (SELECT i, SUM(nij) AS games FROM nij GROUP BY 1) g USING (i)
        |JOIN p2 USING (i) ORDER BY item""".stripMargin,
    "q266_modularity" ->
      // same support-filtered canonical edges and brand labels; per-
      // community contribution quantized DECIMAL(28,12) before the exact
      // Q sum
      """WITH li AS (SELECT DISTINCT l_orderkey AS k, l_partkey AS p FROM lineitem),
        |ew AS (SELECT x.p AS a, y.p AS b, count(*) AS wt
        |       FROM li x JOIN li y ON x.k = y.k AND x.p < y.p GROUP BY 1, 2),
        |e AS (SELECT a, b FROM ew WHERE wt >= 2),
        |m AS (SELECT count(*) AS m FROM e),
        |lab AS (SELECT p_partkey AS n, 'b' || CAST(p_partkey % 8 AS VARCHAR) AS c FROM part),
        |ein AS (SELECT la.c, count(*) AS e_in FROM e
        |        JOIN lab la ON e.a = la.n JOIN lab lb ON e.b = lb.n AND la.c = lb.c GROUP BY 1),
        |deg AS (SELECT c, count(*) AS d_tot FROM
        |        (SELECT a AS n FROM e UNION ALL SELECT b AS n FROM e) t JOIN lab USING (n) GROUP BY 1),
        |perc AS (SELECT deg.c, coalesce(ein.e_in, 0) AS e_in, deg.d_tot,
        |    CAST(CAST(coalesce(ein.e_in, 0) AS DOUBLE) / CAST(m.m AS DOUBLE)
        |      - (CAST(deg.d_tot AS DOUBLE) / (2 * CAST(m.m AS DOUBLE))) * (CAST(deg.d_tot AS DOUBLE) / (2 * CAST(m.m AS DOUBLE)))
        |      AS DECIMAL(28,12)) AS contrib
        |  FROM deg LEFT JOIN ein USING (c) CROSS JOIN m),
        |tot AS (SELECT SUM(contrib) AS q_total FROM perc)
        |SELECT c, CAST(e_in AS BIGINT) AS e_in, CAST(d_tot AS BIGINT) AS d_tot,
        |  CAST(contrib AS DOUBLE) AS contrib, CAST(q_total AS DOUBLE) AS q_total
        |FROM perc CROSS JOIN tot ORDER BY c""".stripMargin,
    "q255_mannwhitney" ->
      // same distinct-value collapse, doubled average ranks (integers),
      // HUGEINT-exact 2R1 and tie sums, one mirrored double chain for z
      """WITH cells AS (SELECT CAST(o_totalprice AS DECIMAL(18,2)) AS v,
        |    COUNT(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS na,
        |    COUNT(CASE WHEN o_orderstatus = 'O' THEN 1 END) AS nb
        |  FROM orders WHERE o_orderstatus IN ('F', 'O') GROUP BY 1),
        |r AS (SELECT v, na, nb, na + nb AS cnt,
        |    SUM(na + nb) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - (na + nb) AS cumb
        |  FROM cells),
        |g AS (SELECT SUM(na) AS n1, SUM(nb) AS n2,
        |    SUM(CAST(na AS HUGEINT) * (2 * cumb + cnt + 1)) AS r2,
        |    SUM(CAST(cnt AS HUGEINT) * cnt * cnt - cnt) AS tie3 FROM r)
        |SELECT CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
        |  CAST(r2 - CAST(n1 AS HUGEINT) * (n1 + 1) AS DOUBLE) / 2 AS u1,
        |  CAST(CAST((CAST(r2 - CAST(n1 AS HUGEINT) * (n1 + 1) AS DOUBLE) - CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE))
        |    / (2 * sqrt(CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE) / 12 *
        |        ((CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE) + 1)
        |          - CAST(tie3 AS DOUBLE) / ((CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE)) * (CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE) - 1)))))
        |    AS DECIMAL(18,9)) AS DOUBLE) AS z
        |FROM g""".stripMargin,
    "q256_bh_fdr" ->
      // identical Chernoff p per nation, then the BH step-up lattice:
      // rank by (p, key), reverse running min of p·m/rank, clamp, α=.05
      """WITH counts AS (SELECT c_nationkey AS key, count(*) AS n_k FROM customer GROUP BY 1),
        |tot AS (SELECT SUM(n_k) AS n_total, COUNT(*) AS m FROM counts),
        |pv AS (SELECT key, CAST(exp(
        |    ((CAST(n_k AS DOUBLE) - CAST(n_total AS DOUBLE) / CAST(m AS DOUBLE))
        |      * (CAST(n_k AS DOUBLE) - CAST(n_total AS DOUBLE) / CAST(m AS DOUBLE))
        |      / ((CAST(n_total AS DOUBLE) / CAST(m AS DOUBLE)) * (1 - 1 / CAST(m AS DOUBLE)))) * -0.5)
        |    AS DECIMAL(18,9)) AS p, m
        |  FROM counts CROSS JOIN tot),
        |b AS (SELECT key, p, m, row_number() OVER (ORDER BY p, key) AS rnk FROM pv),
        |q AS (SELECT key, p, rnk,
        |    least(1000000000, min((CAST(round(CAST(p AS DOUBLE) * 1e9) AS BIGINT) * m) // rnk)
        |      OVER (ORDER BY p DESC, key DESC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) AS qn
        |  FROM b),
        |istar AS (SELECT COALESCE(MAX(CASE WHEN CAST(round(CAST(p AS DOUBLE) * 1e9) AS BIGINT) * m <= 50000000 * rnk THEN rnk END), 0) AS i_star FROM b)
        |SELECT key, CAST(p AS DOUBLE) AS p, CAST(rnk AS BIGINT) AS rnk, CAST(qn AS DOUBLE) / 1e9 AS q,
        |  CASE WHEN rnk <= i_star THEN 1 ELSE 0 END AS rejected
        |FROM q CROSS JOIN istar ORDER BY rnk""".stripMargin,
    "q257_kendall" ->
      // same keyed pair join (a.line < b.line), exact sign counts, one
      // double chain for tau-b
      """WITH p AS (SELECT sign(b.l_quantity - a.l_quantity) AS dx,
        |    sign(b.l_extendedprice - a.l_extendedprice) AS dy
        |  FROM lineitem a JOIN lineitem b
        |    ON a.l_orderkey = b.l_orderkey AND a.l_linenumber < b.l_linenumber),
        |g AS (SELECT COUNT(*) AS n0,
        |    COUNT(CASE WHEN dx * dy = 1 THEN 1 END) AS nc,
        |    COUNT(CASE WHEN dx * dy = -1 THEN 1 END) AS nd,
        |    COUNT(CASE WHEN dx = 0 AND dy <> 0 THEN 1 END) AS tx,
        |    COUNT(CASE WHEN dy = 0 AND dx <> 0 THEN 1 END) AS ty,
        |    COUNT(CASE WHEN dx = 0 AND dy = 0 THEN 1 END) AS txy FROM p)
        |SELECT CAST(n0 AS BIGINT) AS n_pairs, CAST(nc AS BIGINT) AS concordant,
        |  CAST(nd AS BIGINT) AS discordant, CAST(tx AS BIGINT) AS ties_x,
        |  CAST(ty AS BIGINT) AS ties_y, CAST(txy AS BIGINT) AS ties_xy,
        |  CAST(CAST(CAST(nc - nd AS DOUBLE) /
        |    sqrt((CAST(n0 AS DOUBLE) - CAST(tx + txy AS DOUBLE)) * (CAST(n0 AS DOUBLE) - CAST(ty + txy AS DOUBLE)))
        |    AS DECIMAL(18,9)) AS DOUBLE) AS tau_b
        |FROM g""".stripMargin,
    "q258_kde" ->
      // same grid fan-out; each exp term DECIMAL(18,9)-quantized before
      // the sum; sqrt(2π) as a shared literal
      """WITH grid AS (SELECT CAST(i AS INT) AS gi, 0.0 + CAST(i AS DOUBLE) * 25000.0 AS g
        |  FROM generate_series(0, 20) t(i)),
        |t AS (SELECT gi, g, CAST(exp(((g - o_totalprice) / 25000.0) * ((g - o_totalprice) / 25000.0) * -0.5)
        |    AS DECIMAL(18,9)) AS term
        |  FROM orders CROSS JOIN grid),
        |a AS (SELECT gi, g, COUNT(*) AS n, SUM(term) AS ksum FROM t GROUP BY 1, 2)
        |SELECT gi, CAST(g AS DOUBLE) AS x,
        |  CAST(CAST(CAST(ksum AS DOUBLE) / (CAST(n AS DOUBLE) * 25000.0 * 2.5066282746310002)
        |    AS DECIMAL(18,12)) AS DOUBLE) AS density
        |FROM a ORDER BY gi""".stripMargin,
    "q259_mann_kendall" ->
      // same monthly series, within-group pair signs, exact tie term,
      // continuity-corrected z in one mirrored chain
      """WITH ser AS (SELECT o_orderpriority AS grp, strftime(o_orderdate, '%Y-%m') AS m, count(*) AS x
        |  FROM orders GROUP BY 1, 2),
        |pr AS (SELECT a.grp, sign(b.x - a.x) AS sg FROM ser a
        |  JOIN ser b ON a.grp = b.grp AND a.m < b.m),
        |s AS (SELECT grp, CAST(SUM(sg) AS BIGINT) AS s FROM pr GROUP BY 1),
        |ties AS (SELECT grp, SUM(t) AS n, SUM(t * (t - 1) * (2 * t + 5)) AS tie_term
        |  FROM (SELECT grp, x, COUNT(*) AS t FROM ser GROUP BY 1, 2) GROUP BY 1)
        |SELECT ties.grp, CAST(n AS BIGINT) AS n, s,
        |  CAST(CAST(CASE
        |    WHEN (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1) * (2 * CAST(n AS DOUBLE) + 5) - CAST(tie_term AS DOUBLE)) / 18 <= 0 THEN NULL
        |    WHEN s > 0 THEN (CAST(s AS DOUBLE) - 1) / sqrt((CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1) * (2 * CAST(n AS DOUBLE) + 5) - CAST(tie_term AS DOUBLE)) / 18)
        |    WHEN s < 0 THEN (CAST(s AS DOUBLE) + 1) / sqrt((CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1) * (2 * CAST(n AS DOUBLE) + 5) - CAST(tie_term AS DOUBLE)) / 18)
        |    ELSE 0.0 END AS DECIMAL(18,9)) AS DOUBLE) AS z
        |FROM ties JOIN s USING (grp) ORDER BY grp""".stripMargin,
    "q260_streaks" ->
      // the same date − row_number island key, then the length histogram
      """WITH dd AS (SELECT DISTINCT o_custkey AS key, CAST(o_orderdate AS DATE) AS d FROM orders),
        |i AS (SELECT key, d - CAST(row_number() OVER (PARTITION BY key ORDER BY d) AS INT) AS anchor FROM dd),
        |l AS (SELECT key, anchor, COUNT(*) AS len FROM i GROUP BY 1, 2)
        |SELECT len AS streak_len, COUNT(*) AS n_streaks, COUNT(DISTINCT key) AS n_keys
        |FROM l GROUP BY 1 ORDER BY 1""".stripMargin,
    "q261_simpson" ->
      // signs by cross-multiplication on exact integer cents — no
      // division anywhere, so no engine can flip a sign
      """WITH cells AS (SELECT o_orderpriority AS g, o_orderstatus AS st,
        |    SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS s, COUNT(*) AS n
        |  FROM orders GROUP BY 1, 2),
        |tot AS (SELECT g, SUM(s) AS sg, SUM(n) AS ng FROM cells GROUP BY 1),
        |ap AS (SELECT a.g AS ga, b.g AS gb,
        |    CAST(sign(CAST(a.sg AS HUGEINT) * b.ng - CAST(b.sg AS HUGEINT) * a.ng) AS INT) AS agg_sign
        |  FROM tot a JOIN tot b ON a.g < b.g),
        |sp AS (SELECT a.g AS ga, b.g AS gb,
        |    CAST(sign(CAST(a.s AS HUGEINT) * b.n - CAST(b.s AS HUGEINT) * a.n) AS INT) AS st_sign
        |  FROM cells a JOIN cells b ON a.st = b.st AND a.g < b.g),
        |spa AS (SELECT ga, gb, COUNT(*) AS n_strata,
        |    SUM(CASE WHEN st_sign <> 0 THEN 1 ELSE 0 END) AS n_decided,
        |    SUM(CASE WHEN st_sign <> 0 THEN st_sign ELSE 0 END) AS sign_sum
        |  FROM sp GROUP BY 1, 2)
        |SELECT ap.ga, ap.gb, agg_sign, CAST(n_strata AS BIGINT) AS n_strata,
        |  CAST(n_decided AS BIGINT) AS n_decided,
        |  CASE WHEN agg_sign <> 0 AND n_decided > 0 AND sign_sum = -agg_sign * n_decided
        |    THEN 1 ELSE 0 END AS full_reversal
        |FROM ap JOIN spa USING (ga, gb) ORDER BY ga, gb""".stripMargin,
    "q262_hub_assign" ->
      // identical md5 coordinates, the same haversine chain quantized to
      // 0.1 km BEFORE the (dist, hub) argmin and the per-hub stats
      """WITH pts AS (SELECT c_custkey AS id,
        |    CAST(CAST('0x' || substring(md5('lat:' || CAST(c_custkey AS VARCHAR)), 1, 8) AS BIGINT) % 120000000 AS DOUBLE) / 1000000.0 - 60.0 AS lat,
        |    CAST(CAST('0x' || substring(md5('lon:' || CAST(c_custkey AS VARCHAR)), 1, 8) AS BIGINT) % 360000000 AS DOUBLE) / 1000000.0 - 180.0 AS lon
        |  FROM customer),
        |hubs AS (SELECT * FROM (VALUES ('ams', 52.37, 4.90), ('gru', -23.55, -46.63),
        |    ('hkg', 22.32, 114.17), ('jnb', -26.20, 28.04), ('lax', 34.05, -118.24),
        |    ('nrt', 35.68, 139.65), ('nyc', 40.71, -74.01), ('syd', -33.87, 151.21)) AS h(hub, h_lat, h_lon)),
        |d AS (SELECT id, hub, CAST(12742.0 * asin(sqrt(
        |    sin((radians(h_lat) - radians(lat)) / 2) * sin((radians(h_lat) - radians(lat)) / 2)
        |    + cos(radians(lat)) * cos(radians(h_lat))
        |      * sin((radians(h_lon) - radians(lon)) / 2) * sin((radians(h_lon) - radians(lon)) / 2)))
        |    AS DECIMAL(18,1)) AS dk
        |  FROM pts CROSS JOIN hubs),
        |best AS (SELECT id, dk, hub FROM d
        |  QUALIFY row_number() OVER (PARTITION BY id ORDER BY dk, hub) = 1)
        |SELECT hub, COUNT(*) AS n_points, CAST(max(dk) AS DOUBLE) AS max_km,
        |  CAST(CAST(CAST(SUM(dk) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS DECIMAL(18,6)) AS DOUBLE) AS avg_km
        |FROM best GROUP BY 1 ORDER BY 1""".stripMargin,
    "q246_segment_dedup" ->
      // identical tokenize → 8-token segment → md5 → distinct-doc count →
      // drop shared → ordered string_agg re-assembly
      """WITH t AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS toks FROM documents),
        |s AS (SELECT doc_id, CAST(g.s AS BIGINT) AS segpos,
        |        array_to_string(toks[(CAST(g.s AS BIGINT)*8+1):(CAST(g.s AS BIGINT)*8+8)], ' ') AS segtext
        |      FROM t, UNNEST(generate_series(0, CAST(ceil(len(toks)/8.0) AS BIGINT) - 1)) AS g(s)),
        |h AS (SELECT doc_id, segpos, segtext, md5(segtext) AS h FROM s),
        |nd AS (SELECT h, count(DISTINCT doc_id) AS nd FROM h GROUP BY 1),
        |k AS (SELECT h.doc_id, count(*) AS n_segments,
        |        count(CASE WHEN nd.nd > 1 THEN 1 END) AS n_removed,
        |        string_agg(CASE WHEN nd.nd <= 1 THEN segtext END, ' ' ORDER BY segpos) AS kept_text
        |      FROM h JOIN nd USING (h) GROUP BY 1)
        |SELECT doc_id, coalesce(kept_text, '') AS kept_text, n_segments, n_removed
        |FROM k ORDER BY doc_id""".stripMargin,
    "q247_winnow" ->
      // window-min over hash@pos strings = leftmost-min winnowing; the
      // frequency cap (2..50 docs) and pair grouping mirror the Spark plan
      """WITH g AS (SELECT doc_id, CAST(u.p AS INT) AS p,
        |             substring(md5(substring(text, CAST(u.p AS INT), 24)), 1, 16)
        |               || '@' || lpad(CAST(u.p AS VARCHAR), 7, '0') AS comb
        |           FROM documents, UNNEST(generate_series(1, len(text) - 23)) AS u(p)
        |           WHERE len(text) >= 24),
        |w AS (SELECT doc_id, p, min(comb) OVER (PARTITION BY doc_id ORDER BY p
        |        ROWS BETWEEN 7 PRECEDING AND CURRENT ROW) AS sel,
        |        row_number() OVER (PARTITION BY doc_id ORDER BY p) AS rn FROM g),
        |f AS (SELECT DISTINCT doc_id, substring(sel, 1, 16) AS h FROM w WHERE rn >= 8),
        |c AS (SELECT h FROM (SELECT h, count(*) AS nd FROM f GROUP BY 1) WHERE nd BETWEEN 2 AND 20),
        |ff AS (SELECT f.doc_id, f.h FROM f JOIN c USING (h)),
        |p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_shared
        |      FROM ff a JOIN ff b ON a.h = b.h AND a.doc_id < b.doc_id GROUP BY 1, 2)
        |SELECT id_a, id_b, n_shared FROM p WHERE n_shared >= 5 ORDER BY id_a, id_b""".stripMargin,
    "q248_grid_join" ->
      // the all-pairs truth the blocked join must reproduce exactly:
      // integer micro-unit coordinates, BIGINT distance², no epsilon
      """WITH pts AS (SELECT c_custkey AS id,
        |    CAST('0x' || substring(md5('gx:' || CAST(c_custkey AS VARCHAR)), 1, 8) AS BIGINT) % 10000000 AS x,
        |    CAST('0x' || substring(md5('gy:' || CAST(c_custkey AS VARCHAR)), 1, 8) AS BIGINT) % 10000000 AS y
        |  FROM customer)
        |SELECT a.id AS id_a, b.id AS id_b,
        |  (a.x-b.x)*(a.x-b.x) + (a.y-b.y)*(a.y-b.y) AS dist2
        |FROM pts a JOIN pts b ON a.id < b.id
        |WHERE (a.x-b.x)*(a.x-b.x) + (a.y-b.y)*(a.y-b.y) <= 10000000000
        |ORDER BY id_a, id_b""".stripMargin,
    "q249_naive_bayes" ->
      // same densified vocab×class model, add-one smoothing, DECIMAL(28,9)
      // per-token logs, argmax by (score DESC, class ASC)
      """WITH dt AS (SELECT doc_id, lang AS cls,
        |              unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS tok FROM documents),
        |ct AS (SELECT cls, count(*) AS tokens_c FROM dt GROUP BY 1),
        |dc AS (SELECT lang AS cls, count(*) AS docs_c FROM documents GROUP BY 1),
        |tot AS (SELECT (SELECT count(*) FROM documents) AS docs_n,
        |               (SELECT count(DISTINCT tok) FROM dt) AS vocab_v),
        |cnt AS (SELECT tok, cls, count(*) AS ctc FROM dt GROUP BY 1, 2),
        |model AS (SELECT v.tok, ct.cls,
        |    CAST(ln(CAST(coalesce(cnt.ctc, 0) + 1 AS DOUBLE)
        |          / CAST(ct.tokens_c + tot.vocab_v AS DOUBLE)) AS DECIMAL(28,9)) AS lp
        |  FROM (SELECT DISTINCT tok FROM dt) v CROSS JOIN ct
        |  LEFT JOIN cnt ON cnt.tok = v.tok AND cnt.cls = ct.cls CROSS JOIN tot),
        |pri AS (SELECT dc.cls,
        |    CAST(ln(CAST(docs_c AS DOUBLE) / CAST(tot.docs_n AS DOUBLE)) AS DECIMAL(28,9)) AS prior_lp
        |  FROM dc CROSS JOIN tot),
        |sc AS (SELECT d.doc_id, m.cls, CAST(SUM(m.lp) AS DECIMAL(28,9)) AS sum_lp
        |       FROM (SELECT doc_id, tok FROM dt) d JOIN model m USING (tok) GROUP BY 1, 2),
        |t2 AS (SELECT sc.doc_id, sc.cls, sc.sum_lp + pri.prior_lp AS score FROM sc JOIN pri USING (cls)),
        |best AS (SELECT doc_id, cls AS pred, score,
        |           row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, cls ASC) AS rk FROM t2)
        |SELECT b.doc_id, b.pred,
        |  CAST(CAST(CAST(b.score AS DOUBLE) AS DECIMAL(18,6)) AS DOUBLE) AS score,
        |  d.lang AS truth, CASE WHEN b.pred = d.lang THEN 1 ELSE 0 END AS correct
        |FROM best b JOIN documents d USING (doc_id) WHERE rk = 1 ORDER BY doc_id""".stripMargin,
    "q250_target_encode" ->
      // decimal sums, one double division, singleton keys → global LOO mean
      """WITH g AS (SELECT o_custkey,
        |        CAST(SUM(CAST(o_totalprice AS DECIMAL(28,6))) AS DECIMAL(28,6)) AS key_sum,
        |        count(*) AS key_n FROM orders GROUP BY 1),
        |a AS (SELECT CAST(SUM(CAST(o_totalprice AS DECIMAL(28,6))) AS DECIMAL(28,6)) AS all_sum,
        |        count(*) AS all_n FROM orders)
        |SELECT o.o_orderkey, o.o_custkey, g.key_n,
        |  CAST(CAST(CASE WHEN g.key_n > 1
        |    THEN CAST(g.key_sum - CAST(o.o_totalprice AS DECIMAL(28,6)) AS DOUBLE) / CAST(g.key_n - 1 AS DOUBLE)
        |    ELSE CAST(a.all_sum - CAST(o.o_totalprice AS DECIMAL(28,6)) AS DOUBLE) / CAST(a.all_n - 1 AS DOUBLE) END
        |    AS DECIMAL(18,6)) AS DOUBLE) AS loo_mean
        |FROM orders o JOIN g USING (o_custkey) CROSS JOIN a ORDER BY o_orderkey""".stripMargin,
    "q251_holt" ->
      // the recurrence unrolled as a recursive CTE with the IDENTICAL
      // association: s' = 0.5·x + 0.5·(s+b); b' = 0.25·(s'−s) + 0.75·b —
      // every IEEE intermediate matches the fold bit-for-bit
      """WITH RECURSIVE
        |daily AS (SELECT event_type, date_trunc('day', ts) AS day, count(*) AS n FROM events GROUP BY 1, 2),
        |idx AS (SELECT event_type, CAST(n AS DOUBLE) AS x,
        |          row_number() OVER (PARTITION BY event_type ORDER BY day) AS t FROM daily),
        |tc AS (SELECT event_type, max(t) AS tmax FROM idx GROUP BY 1),
        |init AS (SELECT i1.event_type, 1 AS t, i1.x AS s, coalesce(i2.x - i1.x, 0.0) AS b
        |         FROM idx i1 LEFT JOIN idx i2 ON i2.event_type = i1.event_type AND i2.t = 2
        |         WHERE i1.t = 1),
        |rec AS (
        |  SELECT * FROM init
        |  UNION ALL
        |  SELECT r.event_type, r.t + 1,
        |         0.5 * i.x + 0.5 * (r.s + r.b),
        |         0.25 * ((0.5 * i.x + 0.5 * (r.s + r.b)) - r.s) + 0.75 * r.b
        |  FROM rec r JOIN idx i ON i.event_type = r.event_type AND i.t = r.t + 1
        |)
        |SELECT rec.event_type, CAST(tc.tmax AS BIGINT) AS n_days,
        |  CAST(CAST(s AS DECIMAL(18,6)) AS DOUBLE) AS level,
        |  CAST(CAST(b AS DECIMAL(18,6)) AS DOUBLE) AS trend,
        |  CAST(CAST(s + 7.0 * b AS DECIMAL(18,6)) AS DOUBLE) AS forecast
        |FROM rec JOIN tc ON tc.event_type = rec.event_type AND rec.t = tc.tmax
        |ORDER BY rec.event_type""".stripMargin,
    "q245_window_funnel" ->
      // identical min-aggregate chain; greedy earliest-match = first
      // step-1, first step-2 after it, first step-3 after THAT
      """WITH s1 AS (SELECT user_id AS u, min(ts) AS t1 FROM events
        |            WHERE event_type = 'signup' GROUP BY 1),
        |d1 AS (SELECT u, t1, t1 + INTERVAL 7 DAY AS deadline FROM s1),
        |s2 AS (SELECT e.user_id AS u, min(e.ts) AS t2, min(d1.deadline) AS deadline
        |       FROM events e JOIN d1 ON e.user_id = d1.u
        |       WHERE e.event_type = 'click' AND e.ts > d1.t1 AND e.ts <= d1.deadline
        |       GROUP BY 1),
        |s3 AS (SELECT e.user_id AS u, min(e.ts) AS t3
        |       FROM events e JOIN s2 ON e.user_id = s2.u
        |       WHERE e.event_type = 'purchase' AND e.ts > s2.t2 AND e.ts <= s2.deadline
        |       GROUP BY 1),
        |d AS (SELECT u, 1 AS depth FROM s1 UNION ALL SELECT u, 2 FROM s2
        |      UNION ALL SELECT u, 3 FROM s3),
        |m AS (SELECT u, max(depth) AS depth FROM d GROUP BY 1)
        |SELECT depth, count(*) AS n_users FROM m GROUP BY 1 ORDER BY depth""".stripMargin,
    "q244_changepoint" ->
      // integer prefix Σ/Σ², one mirrored double chain per candidate,
      // argmin by (cost, day) total order
      """WITH daily AS (SELECT date_trunc('day', ts) AS day, count(*) AS n FROM events GROUP BY 1),
        |tot AS (SELECT count(*) AS nd, sum(n) AS s, sum(n*n) AS ss FROM daily),
        |c AS (SELECT day, count(*) OVER w AS k, sum(n) OVER w AS sL, sum(n*n) OVER w AS ssL
        |      FROM daily WINDOW w AS (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
        |x AS (SELECT day, k,
        |        (CAST(ssL AS DOUBLE) - CAST(sL AS DOUBLE) * CAST(sL AS DOUBLE) / CAST(k AS DOUBLE))
        |          + (CAST(ss - ssL AS DOUBLE) - CAST(s - sL AS DOUBLE) * CAST(s - sL AS DOUBLE) / CAST(nd - k AS DOUBLE)) AS cost,
        |        CAST(ss AS DOUBLE) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / CAST(nd AS DOUBLE) AS cost0
        |      FROM c CROSS JOIN tot WHERE k >= 1 AND k < nd)
        |SELECT strftime(day, '%Y-%m-%d') AS split_day, k AS n_days_before,
        |  CAST(CAST(cost0 AS DECIMAL(18,6)) AS DOUBLE) AS sse_unsplit,
        |  CAST(CAST(cost AS DECIMAL(18,6)) AS DOUBLE) AS sse_split,
        |  CAST(CAST((cost0 - cost) / cost0 AS DECIMAL(18,6)) AS DOUBLE) AS reduction
        |FROM x ORDER BY cost, day LIMIT 1""".stripMargin,
    "q243_cohort_ltv" ->
      // decimal revenue end to end; weeks_since on day arithmetic (both
      // engines truncate weeks to ISO Monday)
      """WITH uw AS (SELECT user_id AS u, date_trunc('week', ts) AS wk,
        |              SUM(CAST(value AS DECIMAL(18,6))) AS rev FROM events GROUP BY 1, 2),
        |c AS (SELECT u, min(wk) AS c0 FROM uw GROUP BY 1),
        |sz AS (SELECT c0, count(*) AS cohort_users FROM c GROUP BY 1),
        |g AS (SELECT c.c0, datediff('day', CAST(c.c0 AS DATE), CAST(uw.wk AS DATE)) // 7 AS weeks_since,
        |        CAST(SUM(rev) AS DECIMAL(18,6)) AS rev
        |      FROM uw JOIN c USING (u) GROUP BY 1, 2),
        |k AS (SELECT g.c0, weeks_since, cohort_users, rev,
        |        CAST(SUM(rev) OVER (PARTITION BY g.c0 ORDER BY weeks_since) AS DECIMAL(18,6)) AS cum
        |      FROM g JOIN sz ON sz.c0 = g.c0)
        |SELECT strftime(c0, '%Y-%m-%d') AS cohort_week,
        |  CAST(weeks_since AS BIGINT) AS weeks_since, cohort_users,
        |  CAST(rev AS DOUBLE) AS revenue, CAST(cum AS DOUBLE) AS cum_revenue,
        |  CAST(CAST(CAST(cum AS DOUBLE) / CAST(cohort_users AS DOUBLE) AS DECIMAL(18,6)) AS DOUBLE) AS ltv_per_user
        |FROM k ORDER BY cohort_week, weeks_since""".stripMargin,
    "q242_dp_sum" ->
      // identical clip→micro-quantize→unit-quantize→ladder chain; the
      // release is integer arithmetic scaled once by the clip bound
      """WITH c AS (SELECT event_type,
        |    CAST(round(least(greatest(value, 0.0), 10.0) * 1000000.0) AS BIGINT) AS vm FROM events),
        |g AS (SELECT event_type, sum(vm) AS sm FROM c GROUP BY 1),
        |u AS (SELECT event_type, sm,
        |  CAST(CAST('0x' || substring(md5('dps1:' || event_type), 1, 8) AS BIGINT) AS DOUBLE) / 4294967296.0 AS u
        |  FROM g)
        |SELECT event_type,
        |  CAST(CAST(round(CAST(sm AS DOUBLE) / 10000000.0) AS BIGINT)
        |    + (CASE WHEN u < 0.0006666391336166198 THEN -7
        |            WHEN u < 0.001812113043049739 THEN -6
        |            WHEN u < 0.004925833956035729 THEN -5
        |            WHEN u < 0.013389804932698453 THEN -4
        |            WHEN u < 0.03639726343516549 THEN -3
        |            WHEN u < 0.0989380198014472 THEN -2
        |            WHEN u < 0.2689414213699951 THEN -1
        |            WHEN u < 0.7310585786300048 THEN 0
        |            WHEN u < 0.9010619801985527 THEN 1
        |            WHEN u < 0.9636027365648344 THEN 2
        |            WHEN u < 0.9866101950673014 THEN 3
        |            WHEN u < 0.9950741660439641 THEN 4
        |            WHEN u < 0.9981878869569502 THEN 5
        |            WHEN u < 0.9993333608663832 THEN 6
        |            ELSE 7 END) AS DOUBLE) * 10.0 AS noisy_sum,
        |  1.0 AS epsilon, 10.0 AS clip_hi
        |FROM u ORDER BY event_type""".stripMargin,
    "q241_synth_agg" ->
      // the generator's closed forms, reproduced from range()
      """SELECT count(*) AS n_docs, min(range) AS min_id, max(range) AS max_id
        |FROM range(1000, 9000000)""".stripMargin,
    "q240_ppr" ->
      // q110's decimal-contribution recipe with the restart mass split
      // over seeds {1,2}; r0 = teleport distribution (0.5 each).
      // w≥2 support floor mirrors the engine (q238's noise floor)
      """WITH li AS (SELECT DISTINCT l_orderkey AS k, l_partkey AS p FROM lineitem),
        |ew AS (SELECT x.p AS a, y.p AS b, count(*) AS wt
        |       FROM li x JOIN li y ON x.k = y.k AND x.p < y.p GROUP BY 1, 2),
        |e0 AS (SELECT a, b FROM ew WHERE wt >= 2),
        |e AS (SELECT DISTINCT a, b FROM e0 UNION SELECT DISTINCT b, a FROM e0),
        |deg AS (SELECT a AS src, count(*) AS deg FROM e GROUP BY 1),
        |r0 AS (SELECT DISTINCT a AS node,
        |         CASE WHEN a IN (1, 2) THEN 0.5 ELSE CAST(0.0 AS DOUBLE) END AS rank FROM e),
        |r1 AS (SELECT e.b AS node,
        |         CASE WHEN e.b IN (1, 2) THEN 0.075 ELSE CAST(0.0 AS DOUBLE) END
        |           + 0.85 * CAST(SUM(CAST(r0.rank / deg.deg AS DECIMAL(28,9))) AS DOUBLE) AS rank
        |       FROM e JOIN deg ON deg.src = e.a JOIN r0 ON r0.node = e.a GROUP BY e.b),
        |r2 AS (SELECT e.b AS node,
        |         CASE WHEN e.b IN (1, 2) THEN 0.075 ELSE CAST(0.0 AS DOUBLE) END
        |           + 0.85 * CAST(SUM(CAST(r1.rank / deg.deg AS DECIMAL(28,9))) AS DOUBLE) AS rank
        |       FROM e JOIN deg ON deg.src = e.a JOIN r1 ON r1.node = e.a GROUP BY e.b)
        |SELECT node, CAST(CAST(rank AS DECIMAL(18,6)) AS DOUBLE) AS rank
        |FROM r2 ORDER BY rank DESC, node LIMIT 20""".stripMargin,
    "q239_sax" ->
      // integer Σ/Σ² moments; one mirrored double chain for mu/sigma/z;
      // letters compare the UN-quantized z against literal breakpoints
      """WITH daily AS (SELECT date_trunc('day', ts) AS day, count(*) AS n FROM events GROUP BY 1),
        |st AS (SELECT min(day) AS d0, count(*) AS nd, sum(n) AS s, sum(n*n) AS ss FROM daily),
        |f AS (SELECT datediff('day', CAST(d0 AS DATE), CAST(day AS DATE)) // 7 AS frame, n,
        |        CAST(s AS DOUBLE) / CAST(nd AS DOUBLE) AS mu,
        |        sqrt((CAST(ss AS DOUBLE) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / CAST(nd AS DOUBLE))
        |             / CAST(nd AS DOUBLE)) AS sigma
        |      FROM daily CROSS JOIN st),
        |g AS (SELECT frame, count(*) AS n_days, sum(n) AS fs, min(mu) AS mu, min(sigma) AS sigma
        |      FROM f GROUP BY frame),
        |z AS (SELECT frame, n_days, CAST(fs AS DOUBLE) / CAST(n_days AS DOUBLE) AS paa,
        |        (CAST(fs AS DOUBLE) / CAST(n_days AS DOUBLE) - mu) / sigma AS zv
        |      FROM g)
        |SELECT frame, n_days,
        |  CAST(CAST(paa AS DECIMAL(18,6)) AS DOUBLE) AS paa,
        |  CAST(CAST(zv AS DECIMAL(18,6)) AS DOUBLE) AS z,
        |  CASE WHEN zv < -0.6744897501960817 THEN 'a' WHEN zv < 0.0 THEN 'b'
        |       WHEN zv < 0.6744897501960817 THEN 'c' ELSE 'd' END AS symbol
        |FROM z ORDER BY frame""".stripMargin,
    "q238_link_jaccard" ->
      // wedge counts with the same hub cap; x<y once per pair; exact
      // degrees joined at the pair level, one quantized division
      """WITH li AS (SELECT DISTINCT l_orderkey AS k, l_partkey AS p FROM lineitem),
        |ew AS (SELECT x.p AS a, y.p AS b, count(*) AS wt
        |       FROM li x JOIN li y ON x.k = y.k AND x.p < y.p GROUP BY 1, 2),
        |e0 AS (SELECT a, b FROM ew WHERE wt >= 2),
        |e AS (SELECT DISTINCT a, b FROM e0 UNION SELECT DISTINCT b, a FROM e0),
        |deg AS (SELECT a AS n, count(*) AS deg FROM e GROUP BY 1),
        |w AS (SELECT e1.b AS x, e2.b AS y, count(*) AS n_common
        |      FROM e e1 JOIN e e2 ON e1.a = e2.a AND e1.b < e2.b
        |      WHERE e1.a IN (SELECT n FROM deg WHERE deg <= 10000)
        |      GROUP BY 1, 2 HAVING count(*) >= 1)
        |SELECT x, y, n_common, dx.deg AS deg_x, dy.deg AS deg_y,
        |  CAST(CAST(CAST(n_common AS DOUBLE) / CAST(dx.deg + dy.deg - n_common AS DOUBLE)
        |       AS DECIMAL(18,6)) AS DOUBLE) AS jaccard
        |FROM w JOIN deg dx ON dx.n = w.x JOIN deg dy ON dy.n = w.y
        |ORDER BY jaccard DESC, x, y LIMIT 50""".stripMargin,
    "q236_readability" ->
      // identical regex counts; the score is a fixed left-assoc double
      // chain over exact integer ratios, quantized once
      """WITH c AS (SELECT doc_id,
        |    CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS BIGINT) AS n_words,
        |    greatest(CAST(1 AS BIGINT),
        |      CAST(len(regexp_extract_all(text, '[.!?]+')) AS BIGINT)) AS n_sentences,
        |    CAST(len(regexp_extract_all(lower(text), '[aeiouy]+')) AS BIGINT) AS n_syllables
        |  FROM documents)
        |SELECT doc_id, n_words, n_sentences, n_syllables,
        |  CAST(CAST(206.835 - 1.015 * (CAST(n_words AS DOUBLE) / CAST(n_sentences AS DOUBLE))
        |            - 84.6 * (CAST(n_syllables AS DOUBLE) / CAST(n_words AS DOUBLE))
        |       AS DECIMAL(18,6)) AS DOUBLE) AS flesch_ease,
        |  CAST(CAST(0.39 * (CAST(n_words AS DOUBLE) / CAST(n_sentences AS DOUBLE))
        |            + 11.8 * (CAST(n_syllables AS DOUBLE) / CAST(n_words AS DOUBLE)) - 15.59
        |       AS DECIMAL(18,6)) AS DOUBLE) AS fk_grade
        |FROM c WHERE n_words > 0 ORDER BY doc_id""".stripMargin,
    "q235_tail_index" ->
      // same pivot rule: min of the top-(k+1) set, strictly-above filter;
      // ln terms micro-quantized before the order-dependent sum
      """WITH top AS (SELECT o_orderkey AS id, CAST(o_totalprice AS DOUBLE) AS x
        |             FROM orders WHERE o_totalprice > 0
        |             ORDER BY x DESC, id LIMIT 501),
        |p AS (SELECT MIN(x) AS x_k1 FROM top),
        |t AS (SELECT CAST(round(ln(x / x_k1) * 1000000.0) AS BIGINT) AS t, x_k1
        |      FROM top CROSS JOIN p WHERE x > x_k1)
        |SELECT count(*) AS k_eff, x_k1,
        |  CAST(sum(t) AS DOUBLE) / 1000000.0 / CAST(count(*) AS DOUBLE) AS hill_h,
        |  CAST(CAST(1000000.0 * CAST(count(*) AS DOUBLE) / CAST(sum(t) AS DOUBLE)
        |       AS DECIMAL(18,6)) AS DOUBLE) AS alpha
        |FROM t GROUP BY x_k1""".stripMargin,
    "q234_erasure_audit" ->
      """WITH fk AS (SELECT c_custkey FROM customer WHERE c_custkey % 97 = 0),
        |ho AS (SELECT DISTINCT o_orderkey FROM orders
        |       WHERE o_custkey IN (SELECT c_custkey FROM fk))
        |SELECT 'customer' AS table_name,
        |  count(CASE WHEN c_custkey IN (SELECT c_custkey FROM fk) THEN 1 END) AS rows_to_delete,
        |  count(CASE WHEN c_custkey NOT IN (SELECT c_custkey FROM fk) THEN 1 END) AS rows_retained
        |FROM customer
        |UNION ALL
        |SELECT 'orders',
        |  count(CASE WHEN o_custkey IN (SELECT c_custkey FROM fk) THEN 1 END),
        |  count(CASE WHEN o_custkey NOT IN (SELECT c_custkey FROM fk) THEN 1 END)
        |FROM orders
        |UNION ALL
        |SELECT 'lineitem',
        |  count(CASE WHEN l_orderkey IN (SELECT o_orderkey FROM ho) THEN 1 END),
        |  count(CASE WHEN l_orderkey NOT IN (SELECT o_orderkey FROM ho) THEN 1 END)
        |FROM lineitem
        |ORDER BY table_name""".stripMargin,
    "q325_erasure_execute" ->
      // DuckDB executes the SAME cascade (child-first anti-joins) and
      // summarizes the post-state; key checksums prove the surviving SET
      """WITH fk AS (SELECT c_custkey FROM customer WHERE c_custkey % 97 = 0),
        |ho AS (SELECT DISTINCT o_orderkey FROM orders
        |       WHERE o_custkey IN (SELECT c_custkey FROM fk)),
        |li_a AS (SELECT COUNT(*) AS n, CAST(SUM(l_orderkey * 8 + l_linenumber) AS BIGINT) AS ks
        |  FROM lineitem WHERE l_orderkey NOT IN (SELECT o_orderkey FROM ho)),
        |ord_a AS (SELECT COUNT(*) AS n, CAST(SUM(o_orderkey) AS BIGINT) AS ks
        |  FROM orders WHERE o_custkey NOT IN (SELECT c_custkey FROM fk)),
        |cust_a AS (SELECT COUNT(*) AS n, CAST(SUM(c_custkey) AS BIGINT) AS ks
        |  FROM customer WHERE c_custkey NOT IN (SELECT c_custkey FROM fk))
        |SELECT 'customer' AS table_name, (SELECT COUNT(*) FROM customer) AS rows_before,
        |  (SELECT COUNT(*) FROM customer) - n AS rows_deleted, n AS rows_after,
        |  COALESCE(ks, 0) AS key_sum_after FROM cust_a
        |UNION ALL
        |SELECT 'lineitem', (SELECT COUNT(*) FROM lineitem),
        |  (SELECT COUNT(*) FROM lineitem) - n, n, COALESCE(ks, 0) FROM li_a
        |UNION ALL
        |SELECT 'orders', (SELECT COUNT(*) FROM orders),
        |  (SELECT COUNT(*) FROM orders) - n, n, COALESCE(ks, 0) FROM ord_a
        |ORDER BY table_name""".stripMargin,
    "q233_item_cf" ->
      // same sorted-set pair explode semantics expressed as a self-join
      // with ia < ib; integer counts, one quantized cosine division
      """WITH ui AS (SELECT DISTINCT user_id AS u,
        |              CAST(json_extract_string(props, '$.k') AS BIGINT) AS i
        |            FROM events WHERE json_extract_string(props, '$.k') IS NOT NULL),
        |n AS (SELECT i, count(*) AS n FROM ui GROUP BY 1),
        |pr AS (SELECT a.i AS ia, b.i AS ib, count(*) AS n_both
        |       FROM ui a JOIN ui b ON a.u = b.u AND a.i < b.i
        |       GROUP BY 1, 2 HAVING count(*) >= 5)
        |SELECT ia, ib, n_both, na.n AS n_a, nb.n AS n_b,
        |  CAST(CAST(CAST(n_both AS DOUBLE) / sqrt(CAST(na.n * nb.n AS DOUBLE))
        |       AS DECIMAL(18,6)) AS DOUBLE) AS cosine
        |FROM pr JOIN n na ON na.i = pr.ia JOIN n nb ON nb.i = pr.ib
        |ORDER BY cosine DESC, ia, ib LIMIT 50""".stripMargin,
    "q232_stl" ->
      // same micro-unit recipe: trend/seasonal quantized to BIGINT right
      // after their one double division; dow = epoch-days mod 7 (native
      // dow functions disagree on Sunday=0 vs 1 across engines)
      """WITH daily AS (SELECT date_trunc('day', ts) AS day, count(*) AS n FROM events GROUP BY 1),
        |t AS (SELECT day, n,
        |        CASE WHEN count(*) OVER w = 7
        |          THEN CAST(round(sum(n) OVER w * 1000000.0 / 7.0) AS BIGINT) END AS trend_micro,
        |        CAST(datediff('day', DATE '1970-01-01', CAST(day AS DATE)) % 7 AS BIGINT) AS dow
        |      FROM daily WINDOW w AS (ORDER BY day ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
        |t2 AS (SELECT day, n, dow, trend_micro, n * 1000000 - trend_micro AS detr_micro FROM t),
        |dm AS (SELECT dow, CAST(round(CAST(sum(detr_micro) AS DOUBLE) / count(*)) AS BIGINT) AS raw_micro
        |       FROM t2 WHERE detr_micro IS NOT NULL GROUP BY dow),
        |c AS (SELECT CAST(round(CAST(sum(raw_micro) AS DOUBLE) / count(*)) AS BIGINT) AS c_micro FROM dm),
        |seas AS (SELECT dow, raw_micro - c_micro AS seas_micro FROM dm CROSS JOIN c)
        |SELECT strftime(t2.day, '%Y-%m-%d') AS day, n, t2.dow,
        |  CAST(trend_micro AS DOUBLE) / 1000000.0 AS trend,
        |  CAST(seas_micro AS DOUBLE) / 1000000.0 AS seasonal,
        |  CAST(n * 1000000 - trend_micro - seas_micro AS DOUBLE) / 1000000.0 AS residual
        |FROM t2 JOIN seas USING (dow) ORDER BY day""".stripMargin,
    "q231_eigencentrality" ->
      // three unrolled power-iteration rounds; contributions through
      // DECIMAL(28,9) before the sum (q110 recipe), max-normalized per
      // round (no sqrt — L2 would be order-dependent)
      """WITH li AS (SELECT DISTINCT l_orderkey AS k, l_partkey AS p FROM lineitem),
        |ew AS (SELECT x.p AS a, y.p AS b, count(*) AS wt
        |       FROM li x JOIN li y ON x.k = y.k AND x.p < y.p GROUP BY 1, 2),
        |e0 AS (SELECT a, b FROM ew WHERE wt >= 2),
        |e AS (SELECT DISTINCT a, b FROM e0 UNION SELECT DISTINCT b, a FROM e0),
        |r1 AS (SELECT e.b AS node, CAST(SUM(CAST(1.0 AS DECIMAL(28,9))) AS DOUBLE) AS raw
        |       FROM e GROUP BY e.b),
        |n1 AS (SELECT node, raw / (SELECT MAX(raw) FROM r1) AS score FROM r1),
        |r2 AS (SELECT e.b AS node, CAST(SUM(CAST(n1.score AS DECIMAL(28,9))) AS DOUBLE) AS raw
        |       FROM e JOIN n1 ON n1.node = e.a GROUP BY e.b),
        |n2 AS (SELECT node, raw / (SELECT MAX(raw) FROM r2) AS score FROM r2),
        |r3 AS (SELECT e.b AS node, CAST(SUM(CAST(n2.score AS DECIMAL(28,9))) AS DOUBLE) AS raw
        |       FROM e JOIN n2 ON n2.node = e.a GROUP BY e.b),
        |n3 AS (SELECT node, raw / (SELECT MAX(raw) FROM r3) AS score FROM r3)
        |SELECT node, CAST(CAST(score AS DECIMAL(18,6)) AS DOUBLE) AS score
        |FROM n3 ORDER BY score DESC, node LIMIT 20""".stripMargin,
    "q230_gopher_rules" ->
      // identical tokenization + integer sums; list lambdas mirror the
      // Spark higher-order functions term for term
      """WITH t AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS ts FROM documents),
        |m AS (SELECT doc_id,
        |    CAST(len(ts) AS BIGINT) AS word_count,
        |    CAST(list_aggregate(list_transform(ts, w -> length(w)), 'sum') AS DOUBLE)
        |      / nullif(CAST(len(ts) AS DOUBLE), 0.0) AS mean_word_len,
        |    CAST(len(list_filter(ts, w -> regexp_matches(w, '[a-z]'))) AS DOUBLE)
        |      / nullif(CAST(len(ts) AS DOUBLE), 0.0) AS alpha_frac,
        |    CAST(len(list_intersect(list_distinct(ts),
        |      ['the','be','to','of','and','that','have','with','a'])) AS BIGINT) AS n_stopwords
        |  FROM t)
        |SELECT doc_id, word_count, mean_word_len, alpha_frac, n_stopwords,
        |  word_count BETWEEN 50 AND 100000 AS ok_word_count,
        |  mean_word_len BETWEEN 3.0 AND 10.0 AS ok_mean_word_len,
        |  alpha_frac >= 0.8 AS ok_alpha,
        |  n_stopwords >= 2 AS ok_stopwords,
        |  (word_count BETWEEN 50 AND 100000) AND (mean_word_len BETWEEN 3.0 AND 10.0)
        |    AND alpha_frac >= 0.8 AND n_stopwords >= 2 AS passes
        |FROM m ORDER BY doc_id""".stripMargin,
    "q229_dp_counts" ->
      // identical md5-uniform + CASE-ladder noise draw; integer arithmetic
      // end to end so the noisy release is bit-equal across engines
      """WITH g AS (SELECT event_type, count(*) AS tc FROM events GROUP BY 1),
        |u AS (SELECT event_type, tc,
        |  CAST(CAST('0x' || substring(md5('dp1:' || event_type), 1, 8) AS BIGINT) AS DOUBLE) / 4294967296.0 AS u
        |  FROM g)
        |SELECT event_type,
        |  tc + (CASE WHEN u < 0.0006666391336166198 THEN -7
        |             WHEN u < 0.001812113043049739 THEN -6
        |             WHEN u < 0.004925833956035729 THEN -5
        |             WHEN u < 0.013389804932698453 THEN -4
        |             WHEN u < 0.03639726343516549 THEN -3
        |             WHEN u < 0.0989380198014472 THEN -2
        |             WHEN u < 0.2689414213699951 THEN -1
        |             WHEN u < 0.7310585786300048 THEN 0
        |             WHEN u < 0.9010619801985527 THEN 1
        |             WHEN u < 0.9636027365648344 THEN 2
        |             WHEN u < 0.9866101950673014 THEN 3
        |             WHEN u < 0.9950741660439641 THEN 4
        |             WHEN u < 0.9981878869569502 THEN 5
        |             WHEN u < 0.9993333608663832 THEN 6
        |             ELSE 7 END) AS noisy_count,
        |  1.0 AS epsilon
        |FROM u ORDER BY event_type""".stripMargin,
    "q228_bootstrap_ci" ->
      // same md5 uniforms, same Poisson CASE ladder, exact micro-unit
      // integer sums per replicate; CI = order stats of replicate means
      """WITH r AS (SELECT unnest(generate_series(0, 39)) AS r),
        |e AS (SELECT event_id, CAST(round(value * 1e6) AS BIGINT) AS v_micro FROM events),
        |w AS (SELECT event_id, r.r AS r, v_micro,
        |  CAST(CAST('0x' || substring(md5('bs1:' || CAST(event_id AS VARCHAR) || ':' || CAST(r.r // 8 AS VARCHAR)), (r.r % 8) * 4 + 1, 4) AS BIGINT) AS DOUBLE) / 65536.0 AS u
        |  FROM e CROSS JOIN r),
        |pw AS (SELECT r, v_micro,
        |  CASE WHEN u < 0.36787944117144233 THEN 0
        |       WHEN u < 0.7357588823428847 THEN 1
        |       WHEN u < 0.9196986029286058 THEN 2
        |       WHEN u < 0.9810118431238463 THEN 3
        |       WHEN u < 0.9963401531726563 THEN 4
        |       WHEN u < 0.9994058151824183 THEN 5
        |       WHEN u < 0.999916758850712 THEN 6
        |       WHEN u < 0.9999897508033253 THEN 7
        |       WHEN u < 0.999998874797402 THEN 8
        |       ELSE 9 END AS w
        |  FROM w),
        |reps AS (SELECT r, sum(w) AS n_w, sum(w * v_micro) AS s_micro FROM pw GROUP BY r),
        |means AS (SELECT r, CAST(s_micro AS DOUBLE) / 1000000.0 / CAST(n_w AS DOUBLE) AS mean_r FROM reps),
        |ranked AS (SELECT mean_r, row_number() OVER (ORDER BY mean_r, r) AS rk FROM means),
        |pt AS (SELECT CAST(sum(CAST(round(value * 1e6) AS BIGINT)) AS DOUBLE) / 1000000.0 / CAST(count(*) AS DOUBLE) AS est_mean FROM events)
        |SELECT est_mean,
        |  (SELECT mean_r FROM ranked WHERE rk = 2) AS ci_lo,
        |  (SELECT mean_r FROM ranked WHERE rk = 39) AS ci_hi,
        |  CAST(40 AS BIGINT) AS n_replicates
        |FROM pt""".stripMargin,
    "q227_rfm" ->
      // identical ntile windows (custkey tiebreaks make the total order
      // unique, so bucket boundaries agree); decimal monetary cast at end
      """WITH per AS (
        |  SELECT c_custkey, c_mktsegment,
        |    datediff('day', CAST(max(o_orderdate) AS DATE), DATE '1998-12-01') AS recency_days,
        |    count(*) AS frequency,
        |    sum(CAST(o_totalprice AS DECIMAL(18,2))) AS mon_dec
        |  FROM orders JOIN customer ON o_custkey = c_custkey
        |  GROUP BY 1, 2),
        |t AS (
        |  SELECT c_custkey, c_mktsegment AS segment, recency_days, frequency,
        |    CAST(mon_dec AS DOUBLE) AS monetary,
        |    6 - ntile(5) OVER (PARTITION BY c_mktsegment ORDER BY recency_days ASC, c_custkey ASC) AS r_score,
        |    ntile(5) OVER (PARTITION BY c_mktsegment ORDER BY frequency ASC, c_custkey ASC) AS f_score,
        |    ntile(5) OVER (PARTITION BY c_mktsegment ORDER BY mon_dec ASC, c_custkey ASC) AS m_score
        |  FROM per)
        |SELECT c_custkey, segment, CAST(recency_days AS BIGINT) AS recency_days,
        |  frequency, monetary,
        |  CAST(r_score AS BIGINT) AS r_score, CAST(f_score AS BIGINT) AS f_score,
        |  CAST(m_score AS BIGINT) AS m_score,
        |  CAST(r_score * 100 + f_score * 10 + m_score AS BIGINT) AS rfm
        |FROM t ORDER BY c_custkey""".stripMargin,
    "q226_blocklist" ->
      // per-pattern non-overlapping counts via replace-length arithmetic
      // (equal to A-C all-occurrence counts for border-free patterns)
      """WITH t AS (SELECT doc_id, lower(text) AS s FROM documents),
        |c AS (SELECT doc_id,
        |  (length(s) - length(replace(s, 'value', ''))) // 5 AS c1,
        |  (length(s) - length(replace(s, 'table', ''))) // 5 AS c2,
        |  (length(s) - length(replace(s, 'spark', ''))) // 5 AS c3,
        |  (length(s) - length(replace(s, 'query', ''))) // 5 AS c4,
        |  (length(s) - length(replace(s, 'batch', ''))) // 5 AS c5,
        |  (length(s) - length(replace(s, 'filter', ''))) // 6 AS c6,
        |  (length(s) - length(replace(s, 'join', ''))) // 4 AS c7,
        |  (length(s) - length(replace(s, 'data', ''))) // 4 AS c8
        |  FROM t)
        |SELECT doc_id, CAST(c1+c2+c3+c4+c5+c6+c7+c8 AS BIGINT) AS n_hits,
        |  CAST((CASE WHEN c1 > 0 THEN 1 ELSE 0 END) + (CASE WHEN c2 > 0 THEN 1 ELSE 0 END)
        |     + (CASE WHEN c3 > 0 THEN 1 ELSE 0 END) + (CASE WHEN c4 > 0 THEN 1 ELSE 0 END)
        |     + (CASE WHEN c5 > 0 THEN 1 ELSE 0 END) + (CASE WHEN c6 > 0 THEN 1 ELSE 0 END)
        |     + (CASE WHEN c7 > 0 THEN 1 ELSE 0 END) + (CASE WHEN c8 > 0 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_patterns
        |FROM c ORDER BY doc_id""".stripMargin,
    "q225_cuped" ->
      // exact decimal moments, one mirrored double chain for theta/means;
      // lag window deterministic (day unique per user after the group-by)
      """WITH units AS (SELECT user_id AS u, strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day,
        |                 SUM(CAST(value AS DECIMAL(18,6))) AS ysum
        |               FROM events GROUP BY 1, 2),
        |ux AS (SELECT u, CAST(ysum AS DECIMAL(18,6)) AS y,
        |         CAST(COALESCE(lag(ysum) OVER (PARTITION BY u ORDER BY day), 0) AS DECIMAL(18,6)) AS x
        |       FROM units),
        |m AS (SELECT u, y, x, CAST(x*y AS DECIMAL(28,6)) AS xy,
        |        CAST(x*x AS DECIMAL(28,6)) AS xx, CAST(y*y AS DECIMAL(28,6)) AS yy FROM ux),
        |pooled AS (SELECT COUNT(*) AS n, SUM(x) AS sx, SUM(y) AS sy,
        |                  SUM(xy) AS sxy, SUM(xx) AS sxx, SUM(yy) AS syy FROM m),
        |arms AS (SELECT CAST(u % 2 AS VARCHAR) AS arm, COUNT(*) AS n_units,
        |                SUM(x) AS asx, SUM(y) AS asy FROM m GROUP BY 1),
        |j AS (SELECT arm, n_units,
        |        CAST(asy AS DOUBLE) / CAST(n_units AS DOUBLE) AS mean_y,
        |        CAST(asx AS DOUBLE) / CAST(n_units AS DOUBLE) AS mean_x,
        |        CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) / CAST(n AS DOUBLE) AS covxy,
        |        CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) AS varx,
        |        CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) / CAST(n AS DOUBLE) AS vary,
        |        CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) AS mux
        |      FROM arms CROSS JOIN pooled)
        |SELECT arm, CAST(n_units AS BIGINT) AS n_units, mean_y,
        |  mean_y - (covxy / varx) * (mean_x - mux) AS mean_y_adj,
        |  covxy / varx AS theta,
        |  (covxy / varx) * (covxy / varx) * varx / vary AS var_reduction
        |FROM j ORDER BY arm""".stripMargin,
    "q223_pca" ->
      // unrolled quantized power-iteration PCA (2 components × 3 steps):
      // exact BIGINT fixed-point moments (terms rounded pre-sum), 1e12
      // covariance quantization, pivot-normalized vectors at 1e6, every
      // double chain mirrored left-assoc against Similarity.pcaPowerProject
      """WITH n AS MATERIALIZED (SELECT CAST(count(*) AS DOUBLE) AS n FROM embeddings),
        |e AS MATERIALIZED (SELECT vec_id AS id, t.i AS i, CAST(embedding[t.i + 1] AS DOUBLE) AS x
        |      FROM embeddings, generate_series(0, 63) t(i)),
        |sx AS MATERIALIZED (SELECT i, SUM(CAST(round(x * 1e9) AS BIGINT)) AS s FROM e GROUP BY i),
        |sp AS MATERIALIZED (SELECT a.i AS i, b.i AS j, SUM(CAST(round(a.x * b.x * 1e9) AS BIGINT)) AS s
        |       FROM e a JOIN e b ON a.id = b.id AND a.i <= b.i GROUP BY 1, 2),
        |mu AS MATERIALIZED (SELECT i, CAST(s AS DOUBLE) / 1e9 / (SELECT n FROM n) AS mu FROM sx),
        |c1t AS MATERIALIZED (SELECT sp.i, sp.j,
        |    CAST(round((CAST(sp.s AS DOUBLE) / 1e9 / (SELECT n FROM n) - ma.mu * mb.mu) * 1e12) AS BIGINT) AS cq
        |  FROM sp JOIN mu ma ON ma.i = sp.i JOIN mu mb ON mb.i = sp.j),
        |c1 AS MATERIALIZED (SELECT i, j, cq FROM c1t UNION ALL SELECT j AS i, i AS j, cq FROM c1t WHERE i <> j),
        |v10 AS MATERIALIZED (SELECT t.i AS i, CAST(1000000 AS BIGINT) AS vq FROM generate_series(0, 63) t(i)),
        |w11 AS MATERIALIZED (SELECT c.i AS i, SUM(CAST(round(CAST(c.cq AS DOUBLE) / 1e12 * CAST(v.vq AS DOUBLE) * 1e3) AS BIGINT)) AS w
        |        FROM c1 c JOIN v10 v ON v.i = c.j GROUP BY 1),
        |p11 AS MATERIALIZED (SELECT w FROM w11 ORDER BY abs(w) DESC, i ASC LIMIT 1),
        |v11 AS MATERIALIZED (SELECT i, CAST(round(CAST(w AS DOUBLE) / (SELECT CAST(w AS DOUBLE) FROM p11) * 1e6) AS BIGINT) AS vq FROM w11),
        |w12 AS MATERIALIZED (SELECT c.i AS i, SUM(CAST(round(CAST(c.cq AS DOUBLE) / 1e12 * CAST(v.vq AS DOUBLE) * 1e3) AS BIGINT)) AS w
        |        FROM c1 c JOIN v11 v ON v.i = c.j GROUP BY 1),
        |p12 AS MATERIALIZED (SELECT w FROM w12 ORDER BY abs(w) DESC, i ASC LIMIT 1),
        |v12 AS MATERIALIZED (SELECT i, CAST(round(CAST(w AS DOUBLE) / (SELECT CAST(w AS DOUBLE) FROM p12) * 1e6) AS BIGINT) AS vq FROM w12),
        |w13 AS MATERIALIZED (SELECT c.i AS i, SUM(CAST(round(CAST(c.cq AS DOUBLE) / 1e12 * CAST(v.vq AS DOUBLE) * 1e3) AS BIGINT)) AS w
        |        FROM c1 c JOIN v12 v ON v.i = c.j GROUP BY 1),
        |p13 AS MATERIALIZED (SELECT w FROM w13 ORDER BY abs(w) DESC, i ASC LIMIT 1),
        |v13 AS MATERIALIZED (SELECT i, CAST(round(CAST(w AS DOUBLE) / (SELECT CAST(w AS DOUBLE) FROM p13) * 1e6) AS BIGINT) AS vq FROM w13),
        |wl1 AS MATERIALIZED (SELECT c.i AS i, SUM(CAST(round(CAST(c.cq AS DOUBLE) / 1e12 * CAST(v.vq AS DOUBLE) * 1e3) AS BIGINT)) AS w
        |        FROM c1 c JOIN v13 v ON v.i = c.j GROUP BY 1),
        |pv1 AS MATERIALIZED (SELECT i FROM v13 ORDER BY abs(vq) DESC, i ASC LIMIT 1),
        |l1 AS MATERIALIZED (SELECT CAST(w AS DOUBLE) / 1e9 AS lam FROM wl1 WHERE i = (SELECT i FROM pv1)),
        |vtv1 AS MATERIALIZED (SELECT CAST(SUM(vq * vq) AS DOUBLE) AS vtv FROM v13),
        |c2 AS MATERIALIZED (SELECT c.i, c.j, CAST(round((CAST(c.cq AS DOUBLE) / 1e12
        |    - (SELECT lam FROM l1) * CAST(va.vq AS DOUBLE) * CAST(vb.vq AS DOUBLE) / (SELECT vtv FROM vtv1)) * 1e12) AS BIGINT) AS cq
        |  FROM c1 c JOIN v13 va ON va.i = c.i JOIN v13 vb ON vb.i = c.j),
        |v20 AS MATERIALIZED (SELECT t.i AS i, CAST(1000000 AS BIGINT) AS vq FROM generate_series(0, 63) t(i)),
        |w21 AS MATERIALIZED (SELECT c.i AS i, SUM(CAST(round(CAST(c.cq AS DOUBLE) / 1e12 * CAST(v.vq AS DOUBLE) * 1e3) AS BIGINT)) AS w
        |        FROM c2 c JOIN v20 v ON v.i = c.j GROUP BY 1),
        |p21 AS MATERIALIZED (SELECT w FROM w21 ORDER BY abs(w) DESC, i ASC LIMIT 1),
        |v21 AS MATERIALIZED (SELECT i, CAST(round(CAST(w AS DOUBLE) / (SELECT CAST(w AS DOUBLE) FROM p21) * 1e6) AS BIGINT) AS vq FROM w21),
        |w22 AS MATERIALIZED (SELECT c.i AS i, SUM(CAST(round(CAST(c.cq AS DOUBLE) / 1e12 * CAST(v.vq AS DOUBLE) * 1e3) AS BIGINT)) AS w
        |        FROM c2 c JOIN v21 v ON v.i = c.j GROUP BY 1),
        |p22 AS MATERIALIZED (SELECT w FROM w22 ORDER BY abs(w) DESC, i ASC LIMIT 1),
        |v22 AS MATERIALIZED (SELECT i, CAST(round(CAST(w AS DOUBLE) / (SELECT CAST(w AS DOUBLE) FROM p22) * 1e6) AS BIGINT) AS vq FROM w22),
        |w23 AS MATERIALIZED (SELECT c.i AS i, SUM(CAST(round(CAST(c.cq AS DOUBLE) / 1e12 * CAST(v.vq AS DOUBLE) * 1e3) AS BIGINT)) AS w
        |        FROM c2 c JOIN v22 v ON v.i = c.j GROUP BY 1),
        |p23 AS MATERIALIZED (SELECT w FROM w23 ORDER BY abs(w) DESC, i ASC LIMIT 1),
        |v23 AS MATERIALIZED (SELECT i, CAST(round(CAST(w AS DOUBLE) / (SELECT CAST(w AS DOUBLE) FROM p23) * 1e6) AS BIGINT) AS vq FROM w23),
        |t1 AS MATERIALIZED (SELECT e.id, SUM(CAST(round((e.x - mu.mu) * CAST(v13.vq AS DOUBLE)) AS BIGINT)) AS p
        |       FROM e JOIN mu ON mu.i = e.i JOIN v13 ON v13.i = e.i GROUP BY 1),
        |t2 AS MATERIALIZED (SELECT e.id, SUM(CAST(round((e.x - mu.mu) * CAST(v23.vq AS DOUBLE)) AS BIGINT)) AS p
        |       FROM e JOIN mu ON mu.i = e.i JOIN v23 ON v23.i = e.i GROUP BY 1)
        |SELECT t1.id AS vec_id,
        |  CAST(t1.p AS DOUBLE) / 1e6 AS pc1,
        |  CAST(t2.p AS DOUBLE) / 1e6 AS pc2
        |FROM t1 JOIN t2 ON t1.id = t2.id ORDER BY vec_id""".stripMargin,
    "q224_bfs_distance" ->
      // recursive CTE: every (node, d) walk row ≤ maxHops, then MIN(d) —
      // identical min-dist semantics to the synchronous frontier rounds
      """WITH RECURSIVE li AS (SELECT DISTINCT l_orderkey AS k, l_partkey AS p FROM lineitem),
        |e0 AS (SELECT x.p AS a, y.p AS b FROM li x JOIN li y ON x.k = y.k AND x.p < y.p),
        |e AS (SELECT DISTINCT a, b FROM e0 UNION SELECT DISTINCT b, a FROM e0),
        |w(node, d) AS (
        |  SELECT CAST(t.node AS BIGINT), t.d FROM (VALUES (1, 0), (2, 0)) AS t(node, d)
        |  UNION
        |  SELECT e.b, w.d + 1 FROM w JOIN e ON w.node = e.a WHERE w.d < 2)
        |SELECT node, CAST(MIN(d) AS INT) AS dist FROM w GROUP BY node ORDER BY node""".stripMargin,
    "q220_bpe_pairs" ->
      // pair counts over the distinct-word frequency table; generate_series
      // mirrors Spark's sequence() explode over in-word positions
      """WITH wc AS (SELECT w, COUNT(*) AS c FROM (
        |    SELECT unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS w
        |    FROM documents) GROUP BY w HAVING length(w) >= 2),
        |p AS (SELECT w, c, unnest(generate_series(1, length(w) - 1)) AS i FROM wc)
        |SELECT substring(w, CAST(i AS INT), 1) AS left_sym,
        |       substring(w, CAST(i AS INT) + 1, 1) AS right_sym,
        |       CAST(SUM(c) AS BIGINT) AS pair_count
        |FROM p GROUP BY 1, 2
        |ORDER BY pair_count DESC, left_sym, right_sym LIMIT 20""".stripMargin,
    "q219_distinctive_terms" ->
      // Monroe log-odds with informative Dirichlet prior; identical double
      // chains over exact counts; z quantized DECIMAL(18,9) pre-rank
      """WITH toks AS (SELECT source,
        |    unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS tok
        |  FROM documents),
        |ys AS (SELECT source, tok, COUNT(*) AS ysi FROM toks GROUP BY 1, 2),
        |yg AS (SELECT tok, CAST(SUM(ysi) AS BIGINT) AS yi FROM ys
        |       GROUP BY 1 HAVING CAST(SUM(ysi) AS BIGINT) >= 20),
        |ns AS (SELECT source, CAST(SUM(ysi) AS BIGINT) AS nsrc FROM ys GROUP BY 1),
        |t AS (SELECT CAST(SUM(yi) AS BIGINT) AS n FROM yg),
        |z AS (SELECT ys.source, ys.tok, ys.ysi,
        |    CAST((ln((CAST(ys.ysi AS DOUBLE) + CAST(500 AS DOUBLE) * CAST(yg.yi AS DOUBLE) / CAST(t.n AS DOUBLE))
        |           / (CAST(ns.nsrc AS DOUBLE) + CAST(500 AS DOUBLE) - CAST(ys.ysi AS DOUBLE)
        |              - CAST(500 AS DOUBLE) * CAST(yg.yi AS DOUBLE) / CAST(t.n AS DOUBLE)))
        |       - ln((CAST(yg.yi AS DOUBLE) + CAST(500 AS DOUBLE) * CAST(yg.yi AS DOUBLE) / CAST(t.n AS DOUBLE))
        |           / (CAST(t.n AS DOUBLE) + CAST(500 AS DOUBLE) - CAST(yg.yi AS DOUBLE)
        |              - CAST(500 AS DOUBLE) * CAST(yg.yi AS DOUBLE) / CAST(t.n AS DOUBLE))))
        |      / sqrt(CAST(1 AS DOUBLE) / (CAST(ys.ysi AS DOUBLE) + CAST(500 AS DOUBLE) * CAST(yg.yi AS DOUBLE) / CAST(t.n AS DOUBLE))
        |           + CAST(1 AS DOUBLE) / (CAST(yg.yi AS DOUBLE) + CAST(500 AS DOUBLE) * CAST(yg.yi AS DOUBLE) / CAST(t.n AS DOUBLE)))
        |      AS DECIMAL(18,9)) AS zq
        |  FROM ys JOIN yg USING (tok) JOIN ns USING (source), t),
        |r AS (SELECT source, tok, ysi, zq,
        |    row_number() OVER (PARTITION BY source ORDER BY zq DESC, tok) AS rk
        |  FROM z)
        |SELECT source, CAST(rk AS INT) AS rk, tok, ysi, CAST(zq AS DOUBLE) AS z
        |FROM r WHERE rk <= 3 ORDER BY source, rk""".stripMargin,
    "q218_kanon_repair" ->
      // one grouped-count block per declared level; chosen = first passing
      """WITH l0 AS (SELECT COUNT(*) AS n_classes, min(cs) AS min_class_size,
        |    COUNT(CASE WHEN cs < 32 THEN 1 END) AS n_violating
        |  FROM (SELECT COUNT(*) AS cs FROM orders
        |        GROUP BY strftime(CAST(o_orderdate AS DATE), '%Y-%m-%d'), o_orderpriority)),
        |l1 AS (SELECT COUNT(*) AS n_classes, min(cs) AS min_class_size,
        |    COUNT(CASE WHEN cs < 32 THEN 1 END) AS n_violating
        |  FROM (SELECT COUNT(*) AS cs FROM orders
        |        GROUP BY strftime(CAST(o_orderdate AS DATE), '%Y-%m'), o_orderpriority)),
        |l2 AS (SELECT COUNT(*) AS n_classes, min(cs) AS min_class_size,
        |    COUNT(CASE WHEN cs < 32 THEN 1 END) AS n_violating
        |  FROM (SELECT COUNT(*) AS cs FROM orders
        |        GROUP BY strftime(CAST(o_orderdate AS DATE), '%Y-%m'))),
        |l3 AS (SELECT COUNT(*) AS n_classes, min(cs) AS min_class_size,
        |    COUNT(CASE WHEN cs < 32 THEN 1 END) AS n_violating
        |  FROM (SELECT COUNT(*) AS cs FROM orders
        |        GROUP BY strftime(CAST(o_orderdate AS DATE), '%Y'))),
        |a AS (
        |  SELECT 0 AS level, 'day_priority' AS level_name, n_classes, min_class_size,
        |         n_violating, n_violating = 0 AS passes FROM l0
        |  UNION ALL SELECT 1, 'month_priority', n_classes, min_class_size,
        |         n_violating, n_violating = 0 FROM l1
        |  UNION ALL SELECT 2, 'month', n_classes, min_class_size,
        |         n_violating, n_violating = 0 FROM l2
        |  UNION ALL SELECT 3, 'year', n_classes, min_class_size,
        |         n_violating, n_violating = 0 FROM l3),
        |fp AS (SELECT min(level) AS f FROM a WHERE passes)
        |SELECT a.level, a.level_name, a.n_classes, a.min_class_size,
        |  a.n_violating, a.passes,
        |  (fp.f IS NOT NULL AND a.level = fp.f) AS chosen
        |FROM a, fp ORDER BY a.level""".stripMargin,
    "q215_corr_matrix" ->
      // q77's fixed chain per pair over exact decimal power sums from ONE
      // aggregate; DECIMAL(19,6) forces DuckDB's int128 multiply path
      // (an 18-wide operand pair multiplies in int64 and overflows) —
      // values are identical to the engine's (18,6) sums
      """WITH t AS (SELECT COUNT(*) AS n,
        |    SUM(CAST(l_discount AS DECIMAL(19,6))) AS s_d,
        |    SUM(CAST(l_discount AS DECIMAL(19,6)) * CAST(l_discount AS DECIMAL(19,6))) AS ss_d,
        |    SUM(CAST(l_extendedprice AS DECIMAL(19,6))) AS s_e,
        |    SUM(CAST(l_extendedprice AS DECIMAL(19,6)) * CAST(l_extendedprice AS DECIMAL(19,6))) AS ss_e,
        |    SUM(CAST(l_quantity AS DECIMAL(19,6))) AS s_q,
        |    SUM(CAST(l_quantity AS DECIMAL(19,6)) * CAST(l_quantity AS DECIMAL(19,6))) AS ss_q,
        |    SUM(CAST(l_tax AS DECIMAL(19,6))) AS s_t,
        |    SUM(CAST(l_tax AS DECIMAL(19,6)) * CAST(l_tax AS DECIMAL(19,6))) AS ss_t,
        |    SUM(CAST(l_discount AS DECIMAL(19,6)) * CAST(l_extendedprice AS DECIMAL(19,6))) AS p_de,
        |    SUM(CAST(l_discount AS DECIMAL(19,6)) * CAST(l_quantity AS DECIMAL(19,6))) AS p_dq,
        |    SUM(CAST(l_discount AS DECIMAL(19,6)) * CAST(l_tax AS DECIMAL(19,6))) AS p_dt,
        |    SUM(CAST(l_extendedprice AS DECIMAL(19,6)) * CAST(l_quantity AS DECIMAL(19,6))) AS p_eq,
        |    SUM(CAST(l_extendedprice AS DECIMAL(19,6)) * CAST(l_tax AS DECIMAL(19,6))) AS p_et,
        |    SUM(CAST(l_quantity AS DECIMAL(19,6)) * CAST(l_tax AS DECIMAL(19,6))) AS p_qt
        |  FROM lineitem),
        |u AS (SELECT CAST(n AS DOUBLE) AS nd,
        |    CAST(s_d AS DOUBLE) AS sd, CAST(ss_d AS DOUBLE) AS ssd,
        |    CAST(s_e AS DOUBLE) AS se, CAST(ss_e AS DOUBLE) AS sse,
        |    CAST(s_q AS DOUBLE) AS sq, CAST(ss_q AS DOUBLE) AS ssq,
        |    CAST(s_t AS DOUBLE) AS st, CAST(ss_t AS DOUBLE) AS sst,
        |    CAST(p_de AS DOUBLE) AS pde, CAST(p_dq AS DOUBLE) AS pdq,
        |    CAST(p_dt AS DOUBLE) AS pdt, CAST(p_eq AS DOUBLE) AS peq,
        |    CAST(p_et AS DOUBLE) AS pet, CAST(p_qt AS DOUBLE) AS pqt
        |  FROM t)
        |SELECT * FROM (
        |  SELECT 'l_discount' AS col_a, 'l_extendedprice' AS col_b,
        |    CAST(CAST((nd * pde - sd * se) / (sqrt(nd * ssd - sd * sd) * sqrt(nd * sse - se * se)) AS DECIMAL(18,4)) AS DOUBLE) AS corr FROM u
        |  UNION ALL SELECT 'l_discount', 'l_quantity',
        |    CAST(CAST((nd * pdq - sd * sq) / (sqrt(nd * ssd - sd * sd) * sqrt(nd * ssq - sq * sq)) AS DECIMAL(18,4)) AS DOUBLE) FROM u
        |  UNION ALL SELECT 'l_discount', 'l_tax',
        |    CAST(CAST((nd * pdt - sd * st) / (sqrt(nd * ssd - sd * sd) * sqrt(nd * sst - st * st)) AS DECIMAL(18,4)) AS DOUBLE) FROM u
        |  UNION ALL SELECT 'l_extendedprice', 'l_quantity',
        |    CAST(CAST((nd * peq - se * sq) / (sqrt(nd * sse - se * se) * sqrt(nd * ssq - sq * sq)) AS DECIMAL(18,4)) AS DOUBLE) FROM u
        |  UNION ALL SELECT 'l_extendedprice', 'l_tax',
        |    CAST(CAST((nd * pet - se * st) / (sqrt(nd * sse - se * se) * sqrt(nd * sst - st * st)) AS DECIMAL(18,4)) AS DOUBLE) FROM u
        |  UNION ALL SELECT 'l_quantity', 'l_tax',
        |    CAST(CAST((nd * pqt - sq * st) / (sqrt(nd * ssq - sq * sq) * sqrt(nd * sst - st * st)) AS DECIMAL(18,4)) AS DOUBLE) FROM u)
        |ORDER BY col_a, col_b""".stripMargin,
    "q216_freshness" ->
      """WITH g AS (SELECT CAST(floor(epoch(max(ts))) AS BIGINT) AS gmax FROM events)
        |SELECT event_type AS source, COUNT(*) AS n_rows,
        |  CAST(floor(epoch(max(ts))) AS BIGINT) AS max_epoch,
        |  g.gmax - CAST(floor(epoch(max(ts))) AS BIGINT) AS lag_seconds,
        |  COUNT(CASE WHEN CAST(floor(epoch(ts)) AS BIGINT) >= g.gmax - 86400 THEN 1 END) AS n_last_day,
        |  COUNT(CASE WHEN CAST(floor(epoch(ts)) AS BIGINT) >= g.gmax - 604800 THEN 1 END) AS n_last_week
        |FROM events, g GROUP BY source, g.gmax ORDER BY source""".stripMargin,
    "q217_forecast_baseline" ->
      // integer |error| sums exact; MAPE terms quantized DECIMAL(18,9)
      """WITH daily AS (SELECT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day,
        |    COUNT(*) AS v FROM events GROUP BY 1),
        |l AS (SELECT day, v, lag(v, 1) OVER (ORDER BY day) AS lag1,
        |             lag(v, 7) OVER (ORDER BY day) AS lag7 FROM daily)
        |SELECT * FROM (
        |  SELECT 'naive_lag1' AS model, COUNT(*) AS n_evaluated,
        |    CAST(SUM(abs(v - lag1)) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS mae,
        |    CAST(SUM(CAST(CAST(abs(v - lag1) AS DOUBLE) / CAST(v AS DOUBLE) AS DECIMAL(18,9))) AS DOUBLE)
        |      / CAST(COUNT(*) AS DOUBLE) AS mape
        |  FROM l WHERE lag1 IS NOT NULL AND v > 0
        |  UNION ALL
        |  SELECT 'seasonal_lag7', COUNT(*),
        |    CAST(SUM(abs(v - lag7)) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE),
        |    CAST(SUM(CAST(CAST(abs(v - lag7) AS DOUBLE) / CAST(v AS DOUBLE) AS DECIMAL(18,9))) AS DOUBLE)
        |      / CAST(COUNT(*) AS DOUBLE)
        |  FROM l WHERE lag7 IS NOT NULL AND v > 0)
        |ORDER BY model""".stripMargin,
    "q214_blocking_quality" ->
      // q117's SN scheme over the augmented names; truth = the planted
      // (id, id+7e6) variants; counts then two double divisions
      """WITH names AS (SELECT p_name, MIN(p_partkey) AS p_partkey FROM part GROUP BY p_name),
        |recs AS (SELECT p_name, p_partkey FROM names
        |  UNION ALL
        |  SELECT p_name || 'x', p_partkey + 7000000 FROM names WHERE p_partkey < 400),
        |canon AS (SELECT DISTINCT p_partkey AS id, p_name AS s FROM recs),
        |r AS (SELECT id, s, row_number() OVER (ORDER BY s, id) AS rk FROM canon),
        |p AS (SELECT a.id AS ia, a.s AS sa, b.id AS ib, b.s AS sb
        |      FROM r a JOIN r b ON b.rk BETWEEN a.rk + 1 AND a.rk + 3),
        |cand AS (SELECT DISTINCT least(ia, ib) AS pa, greatest(ia, ib) AS pb
        |         FROM p WHERE levenshtein(sa, sb) <= 3),
        |truth AS (SELECT p_partkey AS pa, p_partkey + 7000000 AS pb
        |          FROM names WHERE p_partkey < 400),
        |k AS (SELECT (SELECT COUNT(*) FROM cand) AS nc,
        |             (SELECT COUNT(*) FROM truth) AS nt,
        |             (SELECT COUNT(*) FROM cand JOIN truth USING (pa, pb)) AS nf,
        |             (SELECT COUNT(*) FROM recs) AS n)
        |SELECT nc AS n_candidates, nt AS n_true_pairs, nf AS n_found,
        |  CASE WHEN nt > 0 THEN CAST(nf AS DOUBLE) / CAST(nt AS DOUBLE) END AS pair_completeness,
        |  CAST(1 AS DOUBLE) - CAST(nc AS DOUBLE) / CAST(n * (n - 1) // 2 AS DOUBLE) AS reduction_ratio
        |FROM k""".stripMargin,
    "q212_threshold_sweep" ->
      // descending cumulative TP/FP over distinct scores; metrics
      // quantized DECIMAL(18,9) before the (metric DESC, thr ASC) argmax
      """WITH ps AS (SELECT
        |    CAST(CAST(o_orderkey % 1000 AS DOUBLE) / CAST(1000 AS DOUBLE) AS DECIMAL(18,9)) AS thr,
        |    COUNT(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS pos,
        |    COUNT(CASE WHEN NOT (o_orderstatus = 'F') THEN 1 END) AS neg
        |  FROM orders GROUP BY 1),
        |cum AS (SELECT thr, SUM(pos) OVER (ORDER BY thr DESC) AS tp,
        |               SUM(neg) OVER (ORDER BY thr DESC) AS fp FROM ps),
        |t AS (SELECT SUM(pos) AS p, SUM(neg) AS n FROM ps),
        |m AS (SELECT thr, tp, fp, p - tp AS fn, n - fp AS tn,
        |    CAST(tp AS DOUBLE) / CAST(tp + fp AS DOUBLE) AS precision,
        |    CAST(tp AS DOUBLE) / CAST(p AS DOUBLE) AS recall,
        |    CAST(CAST(tp AS DOUBLE) * 2 / CAST(tp * 2 + fp + (p - tp) AS DOUBLE) AS DECIMAL(18,9)) AS f1,
        |    CAST(CAST(tp AS DOUBLE) / CAST(p AS DOUBLE)
        |       - CAST(fp AS DOUBLE) / CAST(n AS DOUBLE) AS DECIMAL(18,9)) AS youden
        |  FROM cum, t)
        |SELECT * FROM (
        |  SELECT 'f1' AS criterion, CAST(thr AS DOUBLE) AS threshold,
        |    CAST(tp AS BIGINT) AS tp, CAST(fp AS BIGINT) AS fp,
        |    CAST(fn AS BIGINT) AS fn, CAST(tn AS BIGINT) AS tn,
        |    precision, recall, CAST(f1 AS DOUBLE) AS f1, CAST(youden AS DOUBLE) AS youden
        |  FROM m ORDER BY m.f1 DESC, thr LIMIT 1)
        |UNION ALL
        |SELECT * FROM (
        |  SELECT 'youden', CAST(thr AS DOUBLE), CAST(tp AS BIGINT), CAST(fp AS BIGINT),
        |    CAST(fn AS BIGINT), CAST(tn AS BIGINT),
        |    precision, recall, CAST(f1 AS DOUBLE), CAST(youden AS DOUBLE)
        |  FROM m ORDER BY m.youden DESC, thr LIMIT 1)
        |ORDER BY criterion""".stripMargin,
    "q213_brier" ->
      // direct Brier fully exact in decimal; components via binned mean
      // forecasts, each n_k·(·)² term quantized DECIMAL(28,9) pre-sum
      """WITH x AS (SELECT
        |    CAST(CAST(o_orderkey % 1000 AS DOUBLE) / CAST(1000 AS DOUBLE) AS DECIMAL(18,9)) AS f,
        |    CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS o,
        |    LEAST(9, GREATEST(0, CAST(FLOOR(CAST(o_orderkey % 1000 AS DOUBLE) / CAST(1000 AS DOUBLE) * 10) AS BIGINT))) AS bin
        |  FROM orders),
        |cells AS (SELECT bin, COUNT(*) AS nk, SUM(f) AS sf,
        |    CAST(SUM(o) AS BIGINT) AS so, SUM((f - o) * (f - o)) AS ssq
        |  FROM x GROUP BY 1),
        |t AS (SELECT CAST(SUM(nk) AS BIGINT) AS n, CAST(SUM(so) AS BIGINT) AS son,
        |    SUM(ssq) AS ssqt FROM cells),
        |terms AS (SELECT nk, n, ssqt,
        |    CAST((CAST(sf AS DOUBLE) / CAST(nk AS DOUBLE) - CAST(so AS DOUBLE) / CAST(nk AS DOUBLE))
        |       * (CAST(sf AS DOUBLE) / CAST(nk AS DOUBLE) - CAST(so AS DOUBLE) / CAST(nk AS DOUBLE))
        |       * CAST(nk AS DOUBLE) AS DECIMAL(28,9)) AS rel_t,
        |    CAST((CAST(so AS DOUBLE) / CAST(nk AS DOUBLE) - CAST(son AS DOUBLE) / CAST(n AS DOUBLE))
        |       * (CAST(so AS DOUBLE) / CAST(nk AS DOUBLE) - CAST(son AS DOUBLE) / CAST(n AS DOUBLE))
        |       * CAST(nk AS DOUBLE) AS DECIMAL(28,9)) AS res_t,
        |    CAST(son AS DOUBLE) / CAST(n AS DOUBLE) AS ob
        |  FROM cells, t)
        |SELECT n, CAST(CAST(ssqt AS DECIMAL(28,9)) AS DOUBLE) / CAST(n AS DOUBLE) AS brier,
        |  CAST(SUM(rel_t) AS DOUBLE) / CAST(n AS DOUBLE) AS reliability,
        |  CAST(SUM(res_t) AS DOUBLE) / CAST(n AS DOUBLE) AS resolution,
        |  ob * (CAST(1 AS DOUBLE) - ob) AS uncertainty
        |FROM terms GROUP BY n, ssqt, ob""".stripMargin,
    "q210_cluster_split" ->
      // rep = min id over identical content (exact-dup CC ≡ content
      // groups); split thresholds are q44/q182's md5-bucket boundaries
      """WITH e AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 2000000, text FROM documents WHERE doc_id < 40),
        |r AS (SELECT doc_id, MIN(doc_id) OVER (PARTITION BY md5(text)) AS rep FROM e)
        |SELECT doc_id, rep,
        |  CASE WHEN substring(md5(CAST(rep AS VARCHAR)), 1, 2) < 'cd' THEN 'train'
        |       WHEN substring(md5(CAST(rep AS VARCHAR)), 1, 2) < 'e6' THEN 'val'
        |       ELSE 'test' END AS split
        |FROM r ORDER BY doc_id""".stripMargin,
    "q211_kcenter" ->
      // 4 unrolled greedy rounds; every distance is the identical
      // index-ordered double fold, so every argmax picks the same vector
      """WITH e AS (SELECT vec_id, embedding FROM embeddings),
        |c1 AS (SELECT vec_id, embedding FROM e ORDER BY vec_id LIMIT 1),
        |d1 AS (SELECT e.vec_id, e.embedding,
        |    list_sum(list_transform(list_zip(e.embedding, c.embedding),
        |      p -> (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))
        |         * (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE)))) AS md
        |  FROM e, c1 c),
        |c2 AS (SELECT vec_id, embedding, md FROM d1
        |  WHERE vec_id NOT IN (SELECT vec_id FROM c1)
        |  ORDER BY md DESC, vec_id LIMIT 1),
        |d2 AS (SELECT d.vec_id, d.embedding, LEAST(d.md,
        |    list_sum(list_transform(list_zip(d.embedding, c.embedding),
        |      p -> (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))
        |         * (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))))) AS md
        |  FROM d1 d, c2 c),
        |c3 AS (SELECT vec_id, embedding, md FROM d2
        |  WHERE vec_id NOT IN (SELECT vec_id FROM c1 UNION ALL SELECT vec_id FROM c2)
        |  ORDER BY md DESC, vec_id LIMIT 1),
        |d3 AS (SELECT d.vec_id, d.embedding, LEAST(d.md,
        |    list_sum(list_transform(list_zip(d.embedding, c.embedding),
        |      p -> (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))
        |         * (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))))) AS md
        |  FROM d2 d, c3 c),
        |c4 AS (SELECT vec_id, md FROM d3
        |  WHERE vec_id NOT IN (SELECT vec_id FROM c1 UNION ALL SELECT vec_id FROM c2
        |                       UNION ALL SELECT vec_id FROM c3)
        |  ORDER BY md DESC, vec_id LIMIT 1)
        |SELECT * FROM (
        |  SELECT 1 AS pick_order, vec_id, CAST(NULL AS DOUBLE) AS dist_sq FROM c1
        |  UNION ALL
        |  SELECT 2, vec_id, CAST(CAST(md AS DECIMAL(18,9)) AS DOUBLE) FROM c2
        |  UNION ALL
        |  SELECT 3, vec_id, CAST(CAST(md AS DECIMAL(18,9)) AS DOUBLE) FROM c3
        |  UNION ALL
        |  SELECT 4, vec_id, CAST(CAST(md AS DECIMAL(18,9)) AS DOUBLE) FROM c4)
        |ORDER BY pick_order""".stripMargin,
    "q207_jackknife" ->
      // per-bucket exact decimal sums; each leave-one-out ratio quantized
      // DECIMAL(18,9) before the order-independent variance sums
      """WITH g AS (SELECT o_custkey % 16 AS grp,
        |    SUM(CAST(CASE WHEN o_orderstatus = 'F' THEN o_totalprice ELSE 0 END
        |        AS DECIMAL(18,2))) AS n,
        |    SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS d
        |  FROM orders GROUP BY 1),
        |t AS (SELECT COUNT(*) AS gk, SUM(n) AS tn, SUM(d) AS td FROM g),
        |loo AS (SELECT gk, tn, td,
        |    CAST(CAST(tn - n AS DOUBLE) / CAST(td - d AS DOUBLE) AS DECIMAL(18,9)) AS mi
        |  FROM g, t),
        |v AS (SELECT gk, tn, td, SUM(mi) AS sm, SUM(mi * mi) AS sm2
        |  FROM loo GROUP BY 1, 2, 3),
        |s AS (SELECT CAST(tn AS DOUBLE) / CAST(td AS DOUBLE) AS ratio,
        |    gk AS n_groups,
        |    sqrt(CAST(gk - 1 AS DOUBLE) / CAST(gk AS DOUBLE) *
        |      (CAST(sm2 AS DOUBLE) - CAST(sm AS DOUBLE) * CAST(sm AS DOUBLE)
        |        / CAST(gk AS DOUBLE))) AS se
        |  FROM v)
        |SELECT ratio, n_groups, se,
        |  ratio - CAST(1.96 AS DOUBLE) * se AS ci_lo,
        |  ratio + CAST(1.96 AS DOUBLE) * se AS ci_hi
        |FROM s""".stripMargin,
    "q208_capture_recapture" ->
      """WITH ka AS (SELECT DISTINCT o_custkey AS k FROM orders WHERE o_orderkey % 7 = 0),
        |kb AS (SELECT DISTINCT o_custkey AS k FROM orders WHERE o_orderkey % 11 = 0),
        |c AS (SELECT (SELECT COUNT(*) FROM ka) AS n_a,
        |             (SELECT COUNT(*) FROM kb) AS n_b,
        |             (SELECT COUNT(*) FROM ka JOIN kb USING (k)) AS n_overlap)
        |SELECT n_a, n_b, n_overlap,
        |  CAST(n_a + 1 AS DOUBLE) * CAST(n_b + 1 AS DOUBLE)
        |    / CAST(n_overlap + 1 AS DOUBLE) - CAST(1 AS DOUBLE) AS chapman_est,
        |  CASE WHEN n_overlap > 0 THEN CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)
        |    / CAST(n_overlap AS DOUBLE) END AS lincoln_petersen_est
        |FROM c""".stripMargin,
    "q209_dedup_report" ->
      // nfc_normalize(lower()) mirrors the engine's JVM-Normalizer key
      """WITH docs AS (
        |  SELECT source, doc_id, text FROM documents
        |  UNION ALL
        |  SELECT source, doc_id + 5000000, upper(text)
        |  FROM documents WHERE doc_id < 30)
        |SELECT source, COUNT(*) AS n_raw,
        |  COUNT(DISTINCT md5(text)) AS n_exact_unique,
        |  COUNT(DISTINCT md5(nfc_normalize(lower(text)))) AS n_norm_unique,
        |  CAST(1 AS DOUBLE) - CAST(COUNT(DISTINCT md5(text)) AS DOUBLE)
        |    / CAST(COUNT(*) AS DOUBLE) AS exact_dup_rate,
        |  CAST(1 AS DOUBLE) - CAST(COUNT(DISTINCT md5(nfc_normalize(lower(text)))) AS DOUBLE)
        |    / CAST(COUNT(*) AS DOUBLE) AS norm_dup_rate
        |FROM docs GROUP BY 1 ORDER BY 1""".stripMargin,
    "q204_incremental_lsh" ->
      // q24's shingle/jaccard recipe, restricted to cross-set pairs
      // (corpus ids < 1e6, new-batch ids ≥ 1e6)
      """WITH docs AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000, text || ' planted near duplicate tail'
        |  FROM documents WHERE doc_id < 20
        |  UNION ALL
        |  SELECT doc_id + 1500000, text FROM documents WHERE doc_id >= 480),
        |t AS (SELECT doc_id, regexp_extract_all(lower(text), '\S+') AS toks FROM docs),
        |sh AS (
        |  SELECT doc_id,
        |    CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
        |         ELSE list_distinct([array_to_string(toks[i:i+2], ' ') for i in range(1, len(toks) - 1)])
        |    END AS s
        |  FROM t),
        |p AS (
        |  SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b,
        |    CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) / len(list_distinct(a.s || b.s)) AS jaccard
        |  FROM sh a JOIN sh b ON a.doc_id < 1000000 AND b.doc_id >= 1000000)
        |SELECT doc_id_a, doc_id_b, jaccard FROM p
        |WHERE jaccard >= 0.5 ORDER BY doc_id_a, doc_id_b""".stripMargin,
    "q205_missing_partitions" ->
      """WITH ev AS (SELECT event_type, ts FROM events
        |  WHERE NOT (event_type = 'purchase' AND ts < TIMESTAMP '2024-01-06 00:00:00')),
        |b AS (SELECT CAST(min(ts) AS DATE) AS lo, CAST(max(ts) AS DATE) AS hi FROM ev),
        |days AS (SELECT strftime(CAST(g AS DATE), '%Y-%m-%d') AS day
        |         FROM (SELECT unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS g FROM b)),
        |srcs AS (SELECT DISTINCT event_type AS source FROM ev),
        |spine AS (SELECT source, day FROM srcs, days),
        |actual AS (SELECT DISTINCT event_type AS source,
        |    strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day FROM ev)
        |SELECT * FROM (SELECT source, day FROM spine
        |               EXCEPT SELECT source, day FROM actual)
        |ORDER BY source, day""".stripMargin,
    "q206_flatten_json" ->
      // COALESCE(json_valid, FALSE) mirrors from_json's null-in → invalid
      """WITH e AS (
        |  SELECT event_id, props FROM events
        |  UNION ALL
        |  SELECT event_id + 9000000, '{not json' FROM events WHERE event_id < 50)
        |SELECT event_id,
        |  CASE WHEN json_valid(props) THEN CAST(json_extract(props, '$.k') AS BIGINT) END AS k,
        |  COALESCE(json_valid(props), FALSE) AS is_valid
        |FROM e ORDER BY event_id""".stripMargin,
    "q202_allocation" ->
      // pure integer arithmetic: floor shares + largest remainders (ties
      // to source name); allocations sum to exactly 1000
      """WITH c AS (SELECT source, COUNT(*) AS n_docs FROM documents GROUP BY 1),
        |t AS (SELECT SUM(n_docs) AS n FROM c),
        |f AS (SELECT source, n_docs, (1000 * n_docs) // n AS fl,
        |             (1000 * n_docs) % n AS rem FROM c, t),
        |l AS (SELECT 1000 - CAST(SUM(fl) AS BIGINT) AS leftover FROM f),
        |r AS (SELECT source, n_docs, fl,
        |    row_number() OVER (ORDER BY rem DESC, source) AS rk FROM f)
        |SELECT r.source, r.n_docs,
        |  CAST(r.fl + CASE WHEN r.rk <= l.leftover THEN 1 ELSE 0 END AS BIGINT) AS allocation
        |FROM r, l ORDER BY r.source""".stripMargin,
    "q203_nfc_dedup" ->
      // identical planted variants (composed é / decomposed e+́ /
      // case); nfc_normalize(lower(…)) is the same canonical key both sides
      """WITH e AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 3000000, 'résumé ' || upper(text)
        |  FROM documents WHERE doc_id < 20
        |  UNION ALL
        |  SELECT doc_id + 4000000, 'résumé ' || text
        |  FROM documents WHERE doc_id < 20)
        |SELECT md5(nfc_normalize(lower(text))) AS norm_hash,
        |  MIN(doc_id) AS keep_id, COUNT(*) AS n_variants
        |FROM e GROUP BY 1 ORDER BY keep_id""".stripMargin,
    "q199_ewma" ->
      // the SAME driver-computed decay weights as the engine (literals on
      // both sides — no cross-engine pow() drift); fixed-order list fold
      s"""WITH daily AS (SELECT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day,
        |    CAST(COUNT(*) AS DOUBLE) AS n FROM events GROUP BY 1),
        |r AS (SELECT day, n, list_reverse(list(n) OVER (
        |    ORDER BY day ROWS BETWEEN 29 PRECEDING AND CURRENT ROW)) AS rev
        |  FROM daily)
        |SELECT day, CAST(n AS BIGINT) AS n,
        |  list_sum(list_transform(rev, (x, i) -> x * w[i]))
        |    / list_sum(list_transform(rev, (x, i) -> w[i])) AS ewma
        |FROM r, (SELECT [${Array.iterate(1.0, 30)(_ * 0.9)
            .map(d => s"CAST('$d' AS DOUBLE)").mkString(", ")}] AS w)
        |ORDER BY day""".stripMargin,
    "q201_drift_report" ->
      // q142's psi block once per column, union'd; bins anchored on the
      // view (expected) side of EACH column
      """WITH e AS (SELECT CAST(CAST(floor(epoch(ts)) AS BIGINT) AS DOUBLE) AS es, value
        |           FROM events WHERE event_type = 'view'),
        |a AS (SELECT CAST(CAST(floor(epoch(ts)) AS BIGINT) AS DOUBLE) AS es, value
        |      FROM events WHERE event_type = 'purchase'),
        |s1 AS (SELECT min(es) AS lo, (max(es) - min(es)) / 10 AS w FROM e),
        |eb1 AS (SELECT LEAST(9, GREATEST(0, CAST(FLOOR((es - lo) / w) AS INT))) AS bin,
        |               COUNT(*) AS en FROM e, s1 GROUP BY 1),
        |ab1 AS (SELECT LEAST(9, GREATEST(0, CAST(FLOOR((es - lo) / w) AS INT))) AS bin,
        |               COUNT(*) AS an FROM a, s1 GROUP BY 1),
        |c1 AS (SELECT CAST(r.range AS INT) AS bin,
        |              COALESCE(en, 0) AS expected_n, COALESCE(an, 0) AS actual_n
        |       FROM range(0, 10) r
        |       LEFT JOIN eb1 ON eb1.bin = r.range LEFT JOIN ab1 ON ab1.bin = r.range),
        |t1 AS (SELECT SUM(expected_n) AS ne, SUM(actual_n) AS na FROM c1),
        |r1 AS (SELECT 'es' AS col_name,
        |    CAST(SUM(expected_n) AS BIGINT) AS expected_n,
        |    CAST(SUM(actual_n) AS BIGINT) AS actual_n,
        |    CAST(SUM(CAST((p - q) * ln(p / q) AS DECIMAL(28,9))) AS DOUBLE) AS psi
        |  FROM (SELECT expected_n, actual_n,
        |      (CAST(expected_n AS DOUBLE) + CAST(0.5 AS DOUBLE)) / (CAST(ne AS DOUBLE) + CAST(5 AS DOUBLE)) AS p,
        |      (CAST(actual_n AS DOUBLE) + CAST(0.5 AS DOUBLE)) / (CAST(na AS DOUBLE) + CAST(5 AS DOUBLE)) AS q
        |    FROM c1, t1)),
        |s2 AS (SELECT min(value) AS lo, (max(value) - min(value)) / 10 AS w FROM e),
        |eb2 AS (SELECT LEAST(9, GREATEST(0, CAST(FLOOR((value - lo) / w) AS INT))) AS bin,
        |               COUNT(*) AS en FROM e, s2 GROUP BY 1),
        |ab2 AS (SELECT LEAST(9, GREATEST(0, CAST(FLOOR((value - lo) / w) AS INT))) AS bin,
        |               COUNT(*) AS an FROM a, s2 GROUP BY 1),
        |c2 AS (SELECT CAST(r.range AS INT) AS bin,
        |              COALESCE(en, 0) AS expected_n, COALESCE(an, 0) AS actual_n
        |       FROM range(0, 10) r
        |       LEFT JOIN eb2 ON eb2.bin = r.range LEFT JOIN ab2 ON ab2.bin = r.range),
        |t2 AS (SELECT SUM(expected_n) AS ne, SUM(actual_n) AS na FROM c2),
        |r2 AS (SELECT 'value' AS col_name,
        |    CAST(SUM(expected_n) AS BIGINT) AS expected_n,
        |    CAST(SUM(actual_n) AS BIGINT) AS actual_n,
        |    CAST(SUM(CAST((p - q) * ln(p / q) AS DECIMAL(28,9))) AS DOUBLE) AS psi
        |  FROM (SELECT expected_n, actual_n,
        |      (CAST(expected_n AS DOUBLE) + CAST(0.5 AS DOUBLE)) / (CAST(ne AS DOUBLE) + CAST(5 AS DOUBLE)) AS p,
        |      (CAST(actual_n AS DOUBLE) + CAST(0.5 AS DOUBLE)) / (CAST(na AS DOUBLE) + CAST(5 AS DOUBLE)) AS q
        |    FROM c2, t2))
        |SELECT * FROM r1 UNION ALL SELECT * FROM r2 ORDER BY col_name""".stripMargin,
    "q196_expectations" ->
      // NOT(pred) OR pred IS NULL — a rule that cannot evaluate did not
      // hold; pass_rate literals forced DOUBLE (the q181 decimal gotcha)
      """WITH v AS (
        |  SELECT 'key_positive' AS rule,
        |    COUNT(CASE WHEN NOT (o_orderkey > 0) OR (o_orderkey > 0) IS NULL THEN 1 END) AS n_violations
        |  FROM orders
        |  UNION ALL
        |  SELECT 'status_domain',
        |    COUNT(CASE WHEN NOT (o_orderstatus IN ('O','F','P')) OR (o_orderstatus IN ('O','F','P')) IS NULL THEN 1 END)
        |  FROM orders
        |  UNION ALL
        |  SELECT 'price_range',
        |    COUNT(CASE WHEN NOT (o_totalprice > 0 AND o_totalprice < 600000)
        |               OR (o_totalprice > 0 AND o_totalprice < 600000) IS NULL THEN 1 END)
        |  FROM orders
        |  UNION ALL
        |  SELECT 'date_present',
        |    COUNT(CASE WHEN o_orderdate IS NULL THEN 1 END)
        |  FROM orders
        |  UNION ALL
        |  SELECT 'priority_format',
        |    COUNT(CASE WHEN NOT regexp_matches(o_orderpriority, '^[1-5]-')
        |               OR regexp_matches(o_orderpriority, '^[1-5]-') IS NULL THEN 1 END)
        |  FROM orders),
        |n AS (SELECT COUNT(*) AS n_rows FROM orders)
        |SELECT v.rule, n.n_rows, v.n_violations,
        |  CAST(1 AS DOUBLE) - CAST(v.n_violations AS DOUBLE) / CAST(n.n_rows AS DOUBLE) AS pass_rate,
        |  v.n_violations = 0 AS passed
        |FROM v, n ORDER BY v.rule""".stripMargin,
    "q197_linkage_em" ->
      // q181's candidate CTE; E-step g quantized DECIMAL(18,9) before the
      // order-independent sums; all outputs one division of exact sums
      """WITH names AS (SELECT p_name, MIN(p_partkey) AS p_partkey FROM part GROUP BY p_name),
        |cand AS (
        |  SELECT a.p_partkey AS id_a, b.p_partkey AS id_b, a.p_name AS s_a, b.p_name AS s_b
        |  FROM names a JOIN names b
        |    ON substring(a.p_name, 1, 4) = substring(b.p_name, 1, 4) AND a.p_partkey < b.p_partkey
        |  UNION
        |  SELECT a.p_partkey, b.p_partkey, a.p_name, b.p_name
        |  FROM names a JOIN names b
        |    ON substring(a.p_name, greatest(length(a.p_name) - 3, 1), 4)
        |       = substring(b.p_name, greatest(length(b.p_name) - 3, 1), 4)
        |   AND a.p_partkey < b.p_partkey),
        |pairs AS (SELECT id_a, id_b FROM cand WHERE levenshtein(s_a, s_b) <= 2),
        |scored AS (
        |  SELECT
        |    CAST(CAST(0.2 AS DOUBLE) * mp / (CAST(0.2 AS DOUBLE) * mp + (1 - CAST(0.2 AS DOUBLE)) * up)
        |      AS DECIMAL(18,9)) AS g,
        |    ag_0, ag_1, ag_2
        |  FROM (
        |    SELECT
        |      (CASE WHEN a.p_brand IS NOT DISTINCT FROM b.p_brand THEN CAST(0.9 AS DOUBLE) ELSE 1 - CAST(0.9 AS DOUBLE) END)
        |      * (CASE WHEN a.p_type IS NOT DISTINCT FROM b.p_type THEN CAST(0.85 AS DOUBLE) ELSE 1 - CAST(0.85 AS DOUBLE) END)
        |      * (CASE WHEN a.p_size IS NOT DISTINCT FROM b.p_size THEN CAST(0.8 AS DOUBLE) ELSE 1 - CAST(0.8 AS DOUBLE) END) AS mp,
        |      (CASE WHEN a.p_brand IS NOT DISTINCT FROM b.p_brand THEN CAST(0.04 AS DOUBLE) ELSE 1 - CAST(0.04 AS DOUBLE) END)
        |      * (CASE WHEN a.p_type IS NOT DISTINCT FROM b.p_type THEN CAST(0.02 AS DOUBLE) ELSE 1 - CAST(0.02 AS DOUBLE) END)
        |      * (CASE WHEN a.p_size IS NOT DISTINCT FROM b.p_size THEN CAST(0.02 AS DOUBLE) ELSE 1 - CAST(0.02 AS DOUBLE) END) AS up,
        |      CASE WHEN a.p_brand IS NOT DISTINCT FROM b.p_brand THEN 1 ELSE 0 END AS ag_0,
        |      CASE WHEN a.p_type IS NOT DISTINCT FROM b.p_type THEN 1 ELSE 0 END AS ag_1,
        |      CASE WHEN a.p_size IS NOT DISTINCT FROM b.p_size THEN 1 ELSE 0 END AS ag_2
        |    FROM pairs p JOIN part a ON a.p_partkey = p.id_a
        |      JOIN part b ON b.p_partkey = p.id_b)),
        |t AS (SELECT COUNT(*) AS n, SUM(g) AS sg,
        |    COALESCE(SUM(CASE WHEN ag_0 = 1 THEN g END), CAST(0 AS DECIMAL(18,9))) AS sga_0,
        |    CAST(SUM(ag_0) AS BIGINT) AS na_0,
        |    COALESCE(SUM(CASE WHEN ag_1 = 1 THEN g END), CAST(0 AS DECIMAL(18,9))) AS sga_1,
        |    CAST(SUM(ag_1) AS BIGINT) AS na_1,
        |    COALESCE(SUM(CASE WHEN ag_2 = 1 THEN g END), CAST(0 AS DECIMAL(18,9))) AS sga_2,
        |    CAST(SUM(ag_2) AS BIGINT) AS na_2
        |  FROM scored)
        |SELECT field, n AS n_pairs,
        |  CAST(sg AS DOUBLE) / CAST(n AS DOUBLE) AS p_est,
        |  CAST(sga AS DOUBLE) / CAST(sg AS DOUBLE) AS m_est,
        |  CAST(CAST(na AS DECIMAL(28,0)) - sga AS DOUBLE)
        |    / CAST(CAST(n AS DECIMAL(28,0)) - sg AS DOUBLE) AS u_est
        |FROM t, (VALUES ('p_brand', 0), ('p_size', 2), ('p_type', 1)) AS f(field, i),
        |LATERAL (SELECT CASE i WHEN 0 THEN sga_0 WHEN 1 THEN sga_1 ELSE sga_2 END AS sga,
        |                CASE i WHEN 0 THEN na_0 WHEN 1 THEN na_1 ELSE na_2 END AS na)
        |ORDER BY field""".stripMargin,
    "q198_top_paths" ->
      """WITH r AS (SELECT user_id, event_type,
        |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
        |  FROM events),
        |p AS (SELECT user_id, string_agg(event_type, '>' ORDER BY rn) AS path
        |  FROM r WHERE rn <= 6 GROUP BY 1)
        |SELECT path, COUNT(*) AS n_actors FROM p
        |GROUP BY 1 ORDER BY n_actors DESC, path LIMIT 20""".stripMargin,
    "q193_scd2_lookup" ->
      // q75's scd2 CTE + keyed containment; zero-length versions match
      // nothing, so each order resolves to at most one version
      """WITH ordered AS (
        |  SELECT o_custkey, o_orderstatus, o_orderdate,
        |    lag(o_orderstatus) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderstatus) AS prev
        |  FROM orders),
        |changed AS (
        |  SELECT o_custkey, o_orderstatus, o_orderdate FROM ordered
        |  WHERE prev IS NULL OR prev <> o_orderstatus),
        |hist AS (
        |  SELECT o_custkey, o_orderstatus, o_orderdate AS valid_from,
        |    lead(o_orderdate) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderstatus) AS valid_to
        |  FROM changed),
        |fact AS (SELECT o_orderkey, o_custkey,
        |    o_orderdate + INTERVAL 1 DAY AS ts FROM orders)
        |SELECT f.o_orderkey, f.o_custkey, h.o_orderstatus AS status_at
        |FROM fact f LEFT JOIN hist h
        |  ON h.o_custkey = f.o_custkey AND f.ts >= h.valid_from
        |  AND (h.valid_to IS NULL OR f.ts < h.valid_to)
        |ORDER BY f.o_orderkey""".stripMargin,
    "q194_twap" ->
      // v·Δt terms in integer micro-units (round(x·1e6), the q132/cusum
      // recipe — a scale-9 decimal would overrun double precision here);
      // last event carries no duration; single-event users → NULL twap
      """WITH x AS (SELECT user_id, value,
        |    CAST(floor(epoch(ts)) AS BIGINT) AS es,
        |    lead(CAST(floor(epoch(ts)) AS BIGINT)) OVER (
        |      PARTITION BY user_id ORDER BY ts, event_id) AS nxt
        |  FROM events),
        |a AS (SELECT user_id AS actor, COUNT(*) AS n_events,
        |    max(es) - min(es) AS span_seconds,
        |    CAST(SUM(CAST(round((value * CAST(nxt - es AS DOUBLE)) * 1000000.0) AS BIGINT)) AS DOUBLE) AS wsum_u
        |  FROM x GROUP BY 1)
        |SELECT actor, n_events, span_seconds,
        |  CASE WHEN span_seconds > 0
        |       THEN wsum_u / 1000000.0 / CAST(span_seconds AS DOUBLE) END AS twap
        |FROM a ORDER BY actor""".stripMargin,
    "q190_rendezvous" ->
      // same md5(key || '#' || shard) weights; DESC md5 then DESC shard
      // mirrors greatest(struct)'s lexicographic max
      """SELECT doc_id, CAST(shard AS INT) AS shard FROM (
        |  SELECT doc_id, s.range AS shard,
        |    row_number() OVER (PARTITION BY doc_id
        |      ORDER BY md5(CAST(doc_id AS VARCHAR) || '#' || CAST(s.range AS VARCHAR)) DESC,
        |               s.range DESC) AS rk
        |  FROM documents, range(0, 8) s)
        |WHERE rk = 1 ORDER BY doc_id""".stripMargin,
    "q191_zone_manifest" ->
      """SELECT strftime(CAST(o_orderdate AS DATE), '%Y-%m') AS bucket,
        |  COUNT(*) AS n_rows,
        |  min(o_orderkey) AS min_o_orderkey, max(o_orderkey) AS max_o_orderkey,
        |  min(o_totalprice) AS min_o_totalprice, max(o_totalprice) AS max_o_totalprice
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin,
    "q192_debounce" ->
      // gap measured to the previous EVENT (burst semantics) — one lag
      """WITH x AS (SELECT user_id, event_type, event_id,
        |    CAST(floor(epoch(ts)) AS BIGINT) AS es,
        |    lag(CAST(floor(epoch(ts)) AS BIGINT)) OVER (
        |      PARTITION BY user_id, event_type ORDER BY ts, event_id) AS prev
        |  FROM events)
        |SELECT user_id, event_type, event_id, es FROM x
        |WHERE prev IS NULL OR es - prev > 30
        |ORDER BY user_id, event_type, es, event_id""".stripMargin,
    "q166_dim_profile" ->
      // zip-unnest (dim, value); floats exact as doubles, quantized
      // DECIMAL(18,9) before order-independent sums; std double chain last
      """WITH x AS (SELECT unnest(generate_series(1, len(embedding))) AS dim,
        |             CAST(CAST(unnest(embedding) AS DOUBLE) AS DECIMAL(18,9)) AS q
        |           FROM embeddings),
        |a AS (SELECT dim, COUNT(*) AS n, SUM(q) AS sx, SUM(q*q) AS sxx,
        |        CAST(MIN(q) AS DOUBLE) AS min_v, CAST(MAX(q) AS DOUBLE) AS max_v
        |      FROM x GROUP BY dim)
        |SELECT dim, n,
        |  CAST(CAST(CAST(sx AS DOUBLE)/CAST(n AS DOUBLE) AS DECIMAL(18,9)) AS DOUBLE) AS mean,
        |  CAST(CAST(sqrt((CAST(n AS DOUBLE)*CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE)*CAST(sx AS DOUBLE))
        |       / (CAST(n AS DOUBLE)*CAST(n AS DOUBLE))) AS DECIMAL(18,9)) AS DOUBLE) AS std,
        |  min_v, max_v, min_v = max_v AS dead
        |FROM a ORDER BY dim""".stripMargin,
    "q167_theil_sen" ->
      // median(DOUBLE) is quantile_cont(0.5) — the interpolation
      // exactGlobalMedian mirrors (see q140); slope quantized 9 dp BEFORE
      // the residual pass on both engines
      """WITH d AS (SELECT CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS t, COUNT(*) AS x
        |           FROM events GROUP BY 1),
        |p AS (SELECT (CAST(b.x AS DOUBLE) - CAST(a.x AS DOUBLE)) / CAST(b.t - a.t AS DOUBLE) AS s
        |      FROM d a JOIN d b ON b.t > a.t),
        |sl AS (SELECT COUNT(*) AS n_pairs,
        |         CAST(CAST(median(s) AS DECIMAL(18,9)) AS DOUBLE) AS slope FROM p),
        |r AS (SELECT CAST(x AS DOUBLE) - slope * CAST(t AS DOUBLE) AS resid
        |      FROM d CROSS JOIN sl),
        |i AS (SELECT CAST(CAST(median(resid) AS DECIMAL(18,9)) AS DOUBLE) AS intercept FROM r)
        |SELECT (SELECT COUNT(*) FROM d) AS n_points, n_pairs, slope, intercept
        |FROM sl CROSS JOIN i""".stripMargin,
    "q168_ccf" ->
      // x_t vs y_{t+h} via equi-join on the lag spine; full-series
      // population sigmas; centered products DECIMAL(28,9) before the sum
      """WITH xs AS (SELECT CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS t, COUNT(*) AS x
        |            FROM events WHERE event_type = 'click' GROUP BY 1),
        |ys AS (SELECT CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS t, COUNT(*) AS y
        |       FROM events WHERE event_type = 'purchase' GROUP BY 1),
        |sx AS (SELECT COUNT(*) AS n, SUM(CAST(x AS DECIMAL(19,0))) AS s,
        |         SUM(CAST(x AS DECIMAL(19,0)) * CAST(x AS DECIMAL(19,0))) AS ss FROM xs),
        |mx AS (SELECT CAST(s AS DOUBLE)/CAST(n AS DOUBLE) AS mux,
        |         sqrt((CAST(n AS DOUBLE)*CAST(ss AS DOUBLE) - CAST(s AS DOUBLE)*CAST(s AS DOUBLE))
        |              / (CAST(n AS DOUBLE)*CAST(n AS DOUBLE))) AS sdx FROM sx),
        |sy AS (SELECT COUNT(*) AS n, SUM(CAST(y AS DECIMAL(19,0))) AS s,
        |         SUM(CAST(y AS DECIMAL(19,0)) * CAST(y AS DECIMAL(19,0))) AS ss FROM ys),
        |my AS (SELECT CAST(s AS DOUBLE)/CAST(n AS DOUBLE) AS muy,
        |         sqrt((CAST(n AS DOUBLE)*CAST(ss AS DOUBLE) - CAST(s AS DOUBLE)*CAST(s AS DOUBLE))
        |              / (CAST(n AS DOUBLE)*CAST(n AS DOUBLE))) AS sdy FROM sy),
        |p AS (SELECT l.lag, xs.x, ys.y
        |      FROM xs CROSS JOIN (SELECT CAST(r AS BIGINT) AS lag FROM range(0,6) t(r)) l
        |      JOIN ys ON ys.t = xs.t + l.lag),
        |g AS (SELECT lag, COUNT(*) AS n_pairs,
        |        CAST(SUM(CAST((CAST(x AS DOUBLE) - mux) * (CAST(y AS DOUBLE) - muy)
        |          AS DECIMAL(28,9))) AS DOUBLE) AS num,
        |        MAX(sdx) AS sdx, MAX(sdy) AS sdy
        |      FROM p CROSS JOIN mx CROSS JOIN my GROUP BY lag)
        |SELECT lag, n_pairs,
        |  CASE WHEN sdx > 0 AND sdy > 0
        |       THEN CAST(CAST(num/(CAST(n_pairs AS DOUBLE)*sdx*sdy) AS DECIMAL(18,9)) AS DOUBLE)
        |  END AS ccf
        |FROM g ORDER BY lag""".stripMargin,
    "q169_srm" ->
      // chi-square of arm counts vs the intended 334/333/333 allocation
      """WITH e(arm, pm) AS (VALUES ('0', 334), ('1', 333), ('2', 333)),
        |o AS (SELECT CAST(o_orderkey % 3 AS VARCHAR) AS arm, COUNT(*) AS n_obs
        |      FROM orders GROUP BY 1),
        |t AS (SELECT SUM(n_obs) AS nn FROM o),
        |pa AS (SELECT e.arm, COALESCE(o.n_obs, 0) AS n_obs, pm,
        |         CAST(pm AS DOUBLE)*CAST(nn AS DOUBLE)/1000.0 AS ex
        |       FROM e LEFT JOIN o USING (arm) CROSS JOIN t),
        |c AS (SELECT arm, n_obs, pm, ex,
        |        CAST((CAST(n_obs AS DOUBLE) - ex)*(CAST(n_obs AS DOUBLE) - ex)/ex
        |          AS DECIMAL(28,9)) AS chi_q FROM pa),
        |s AS (SELECT CAST(SUM(chi_q) AS DOUBLE) AS chi2 FROM c)
        |SELECT arm, CAST(n_obs AS BIGINT) AS n_obs, pm,
        |  CAST(CAST(ex AS DECIMAL(18,6)) AS DOUBLE) AS n_expected,
        |  CAST(chi_q AS DOUBLE) AS chi_term, chi2
        |FROM c CROSS JOIN s ORDER BY arm""".stripMargin,
    "q152_calibration" ->
      // scores quantized DECIMAL(18,9) per row before the sum; every ratio
      // one double division; ECE term quantized last
      """WITH p AS (SELECT
        |    LEAST(9, GREATEST(0, CAST(FLOOR(CAST(o_orderkey % 1000 AS DOUBLE) / CAST(1000 AS DOUBLE) * 10) AS BIGINT))) AS bin,
        |    CAST(CAST(o_orderkey % 1000 AS DOUBLE) / CAST(1000 AS DOUBLE) AS DECIMAL(18,9)) AS s,
        |    CASE WHEN o_orderstatus = 'F' THEN 1 END AS y
        |  FROM orders),
        |c AS (SELECT bin, COUNT(*) AS n, SUM(s) AS sum_s, COUNT(y) AS pos FROM p GROUP BY 1),
        |t AS (SELECT CAST(SUM(n) AS BIGINT) AS total FROM c)
        |SELECT bin, n, pos,
        |  CAST(sum_s AS DOUBLE) / CAST(n AS DOUBLE) AS confidence,
        |  CAST(pos AS DOUBLE) / CAST(n AS DOUBLE) AS accuracy,
        |  CAST(CAST((CAST(n AS DOUBLE) / CAST(total AS DOUBLE)) *
        |    ABS(CAST(pos AS DOUBLE) / CAST(n AS DOUBLE) - CAST(sum_s AS DOUBLE) / CAST(n AS DOUBLE))
        |    AS DECIMAL(18,9)) AS DOUBLE) AS ece_term
        |FROM c, t ORDER BY bin""".stripMargin,
    "q153_drift_snapshot" ->
      // hour windows are epoch-aligned ⇒ window.start == date_trunc('hour');
      // bins fixed [0,500) in 10 slices, clamped edges
      """SELECT date_trunc('hour', ts) AS window_start,
        |  LEAST(9, GREATEST(0, CAST(FLOOR((value - CAST(0 AS DOUBLE)) / CAST(50 AS DOUBLE)) AS BIGINT))) AS bin,
        |  COUNT(*) AS n
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q151_incremental_agg" ->
      // the merged three-batch state must equal ONE full-scan aggregate —
      // so the oracle IS the full scan
      """SELECT event_type, COUNT(*) AS n,
        |  CAST(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE) AS sum_v,
        |  MIN(value) AS min_v, MAX(value) AS max_v,
        |  CAST(CAST(CAST(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE)
        |       / CAST(COUNT(*) AS DOUBLE) AS DECIMAL(18,6)) AS DOUBLE) AS avg_v
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q148_js_divergence" ->
      // p·ln(p/m) terms only where p>0 (JSD's zero tolerance), each through
      // DECIMAL(28,9); probabilities are divisions of exact integers
      """WITH dt AS (SELECT source AS grp, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS tok
        |           FROM documents),
        |pg AS (SELECT grp, tok, COUNT(*) AS cg FROM dt GROUP BY 1, 2),
        |corpus AS (SELECT tok, CAST(SUM(cg) AS BIGINT) AS c FROM pg GROUP BY 1),
        |ng AS (SELECT grp, CAST(SUM(cg) AS BIGINT) AS ng FROM pg GROUP BY 1),
        |ntot AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM corpus),
        |sup AS (SELECT g.grp, g.ng, COALESCE(pg.cg, 0) AS cg, v.c, ntot.n
        |        FROM corpus v CROSS JOIN ng g
        |        LEFT JOIN pg ON pg.grp = g.grp AND pg.tok = v.tok
        |        CROSS JOIN ntot),
        |t AS (SELECT grp, ng,
        |        CAST(cg AS DOUBLE) / CAST(ng AS DOUBLE) AS p,
        |        CAST(c AS DOUBLE) / CAST(n AS DOUBLE) AS q
        |      FROM sup),
        |tt AS (SELECT grp, ng,
        |         CASE WHEN p > 0 THEN CAST(p * ln(p / ((p + q) / 2.0)) AS DECIMAL(28,9))
        |              ELSE CAST(0 AS DECIMAL(28,9)) END AS tp,
        |         CASE WHEN q > 0 THEN CAST(q * ln(q / ((q + p) / 2.0)) AS DECIMAL(28,9))
        |              ELSE CAST(0 AS DECIMAL(28,9)) END AS tq
        |       FROM t)
        |SELECT grp, ng AS n_tokens,
        |       (CAST(SUM(tp) AS DOUBLE) + CAST(SUM(tq) AS DOUBLE)) * 0.5 AS jsd
        |FROM tt GROUP BY grp, ng ORDER BY grp""".stripMargin,
    "q149_integrity_audit" ->
      // NOT EXISTS, never NOT IN (null-poisoned); NULL FKs are "no
      // reference", not violations
      """SELECT 'customer->nation' AS relationship,
        |  COUNT(CASE WHEN c_nationkey IS NOT NULL AND NOT EXISTS
        |    (SELECT 1 FROM nation WHERE n_nationkey = c_nationkey) THEN 1 END) AS orphan_n
        |FROM customer
        |UNION ALL
        |SELECT 'lineitem->orders',
        |  COUNT(CASE WHEN l_orderkey IS NOT NULL AND NOT EXISTS
        |    (SELECT 1 FROM orders WHERE o_orderkey = l_orderkey) THEN 1 END)
        |FROM lineitem
        |UNION ALL
        |SELECT 'lineitem->part',
        |  COUNT(CASE WHEN l_partkey IS NOT NULL AND NOT EXISTS
        |    (SELECT 1 FROM part WHERE p_partkey = l_partkey) THEN 1 END)
        |FROM lineitem
        |UNION ALL
        |SELECT 'orders->customer',
        |  COUNT(CASE WHEN o_custkey IS NOT NULL AND NOT EXISTS
        |    (SELECT 1 FROM customer WHERE c_custkey = o_custkey) THEN 1 END)
        |FROM orders
        |ORDER BY relationship""".stripMargin,
    "q150_topn_ties" ->
      // rank() WITH TIES on the floored score; BIGINT rank matches the
      // Spark side's post-filter long cast
      """SELECT user_id, event_id, CAST(FLOOR(value) AS BIGINT) AS score, rnk FROM (
        |  SELECT user_id, event_id, value,
        |    rank() OVER (PARTITION BY user_id ORDER BY CAST(FLOOR(value) AS BIGINT) DESC) AS rnk
        |  FROM events) WHERE rnk <= 3
        |ORDER BY user_id, rnk, event_id""".stripMargin,
    "q147_synth_source" ->
      // the synthdocs generator formulas reproduced verbatim from range();
      // no parquet table involved
      """WITH docs AS (
        |  SELECT i AS doc_id,
        |    array_to_string(list_transform(range(0, 5 + (i * 37) % 46),
        |      k -> 'w' || CAST(((i + 1) * 1103515 + k * 12345) % 1000 AS VARCHAR)), ' ') AS text,
        |    CASE WHEN i % 10 < 6 THEN 'en' WHEN i % 10 < 8 THEN 'es'
        |         WHEN i % 10 < 9 THEN 'fr' ELSE 'de' END AS lang
        |  FROM range(500, 1500) t(i))
        |SELECT lang, COUNT(*) AS n_docs, CAST(SUM(length(text)) AS BIGINT) AS sum_chars
        |FROM docs GROUP BY lang ORDER BY lang""".stripMargin,
    "q145_zipf" ->
      // rank over the vocabulary (count desc, token asc), then the q104
      // exact-decimal OLS recipe on (ln rank, ln count)
      """WITH toks AS (SELECT unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS tok FROM documents),
        |cnt AS (SELECT tok, COUNT(*) AS c FROM toks GROUP BY tok),
        |r AS (SELECT c, row_number() OVER (ORDER BY c DESC, tok) AS rnk FROM cnt),
        |d AS (SELECT CAST(ln(CAST(rnk AS DOUBLE)) AS DECIMAL(18,2)) AS x,
        |             CAST(ln(CAST(c AS DOUBLE)) AS DECIMAL(18,2)) AS y FROM r),
        |g AS (SELECT COUNT(*) AS n,
        |    CAST(SUM(x) AS DECIMAL(24,2)) AS sx, CAST(SUM(y) AS DECIMAL(24,2)) AS sy,
        |    CAST(SUM(x * y) AS DECIMAL(24,4)) AS sxy, CAST(SUM(x * x) AS DECIMAL(24,4)) AS sxx
        |  FROM d)
        |SELECT n AS vocab_n,
        |  CAST(CAST(CASE WHEN CAST(n * sxx - sx * sx AS DOUBLE) = 0 THEN NULL
        |    ELSE CAST(n * sxy - sx * sy AS DOUBLE) / CAST(n * sxx - sx * sx AS DOUBLE) END
        |    AS DECIMAL(18,6)) AS DOUBLE) AS slope
        |FROM g""".stripMargin,
    "q146_encoding" ->
      // counts via length-difference after strip; 'g' flag: DuckDB's
      // regexp_replace is first-match-only without it
      """WITH s AS (SELECT doc_id, text, length(text) AS n FROM documents)
        |SELECT doc_id, CAST(n AS BIGINT) AS n_chars,
        |  CAST(n - length(replace(text, chr(65533), '')) AS BIGINT) AS repl_n,
        |  CAST(n - length(regexp_replace(text, '[\x00-\x08\x0B\x0C\x0E-\x1F]', '', 'g')) AS BIGINT) AS ctrl_n,
        |  CAST(n - length(replace(text, chr(195), '')) AS BIGINT) AS moji_n,
        |  CAST(n - length(regexp_replace(text, '[^\x00-\x7F]', '', 'g')) AS BIGINT) AS non_ascii_n,
        |  CASE WHEN n > 0 THEN
        |    CAST((n - length(replace(text, chr(65533), ''))) * 4
        |       + (n - length(replace(text, chr(195), ''))) * 2
        |       + (n - length(regexp_replace(text, '[\x00-\x08\x0B\x0C\x0E-\x1F]', '', 'g'))) AS DOUBLE)
        |      / CAST(n AS DOUBLE)
        |  ELSE CAST(0 AS DOUBLE) END AS anomaly_score
        |FROM s ORDER BY doc_id""".stripMargin,
    "q139_label_prop" ->
      // the two synchronous rounds unrolled; same (count desc, label asc)
      // modal rank both engines
      """WITH li AS (SELECT DISTINCT l_orderkey AS k, l_partkey AS p FROM lineitem),
        |ew AS (SELECT x.p AS a, y.p AS b, count(*) AS wt
        |       FROM li x JOIN li y ON x.k = y.k AND x.p < y.p GROUP BY 1, 2),
        |e AS (SELECT a, b FROM ew WHERE wt >= 2),
        |n AS (SELECT a, b FROM e UNION ALL SELECT b AS a, a AS b FROM e),
        |l0 AS (SELECT DISTINCT a AS node, a AS lbl FROM n),
        |i1 AS (SELECT n.a AS node, l.lbl FROM n JOIN l0 l ON l.node = n.b
        |       GROUP BY 1, 2
        |       QUALIFY row_number() OVER (PARTITION BY n.a
        |         ORDER BY COUNT(*) DESC, l.lbl) = 1),
        |i2 AS (SELECT n.a AS node, l.lbl FROM n JOIN i1 l ON l.node = n.b
        |       GROUP BY 1, 2
        |       QUALIFY row_number() OVER (PARTITION BY n.a
        |         ORDER BY COUNT(*) DESC, l.lbl) = 1)
        |SELECT node, lbl FROM i2 ORDER BY node""".stripMargin,
    "q138_doc_cosine" ->
      // same pruned vector space (df ≤ 100), integer dots, one double
      // division of the same shape — cosine VALUES compare exactly
      """WITH tok AS (
        |  SELECT doc_id AS doc, g, COUNT(*) AS cnt FROM (
        |    SELECT doc_id, t[i] || ' ' || t[i+1] AS g
        |    FROM (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS t
        |          FROM documents),
        |         LATERAL (SELECT unnest(range(1, len(t))) AS i)
        |  ) GROUP BY 1, 2),
        |kept AS (SELECT g FROM (SELECT g, COUNT(*) AS df FROM tok GROUP BY 1)
        |         WHERE df <= 100),
        |tk AS (SELECT tok.* FROM tok JOIN kept USING (g)),
        |nrm AS (SELECT doc, sqrt(CAST(SUM(cnt*cnt) AS DOUBLE)) AS nrm FROM tk GROUP BY 1),
        |dots AS (SELECT a.doc AS id_a, b.doc AS id_b, CAST(SUM(a.cnt*b.cnt) AS BIGINT) AS dot
        |         FROM tk a JOIN tk b ON a.g = b.g AND a.doc < b.doc GROUP BY 1, 2)
        |SELECT d.id_a, d.id_b, CAST(d.dot AS DOUBLE) / (na.nrm * nb.nrm) AS cosine
        |FROM dots d JOIN nrm na ON na.doc = d.id_a JOIN nrm nb ON nb.doc = d.id_b
        |WHERE CAST(d.dot AS DOUBLE) / (na.nrm * nb.nrm) >= 0.5
        |ORDER BY id_a, id_b""".stripMargin,
    "q137_zorder" ->
      // same range quantization (one division, one multiply, floor — IEEE-
      // identical) and the same unrolled bit-interleave as an integer sum
      """WITH s AS (SELECT MIN(l_partkey) AS xmin, MAX(l_partkey) AS xmax,
        |                  MIN(l_suppkey) AS ymin, MAX(l_suppkey) AS ymax FROM lineitem),
        |d AS (SELECT DISTINCT l_orderkey, l_linenumber, l_partkey, l_suppkey FROM lineitem),
        |q AS (SELECT l.l_orderkey, l.l_linenumber, l.l_partkey, l.l_suppkey,
        |        LEAST(65535, CAST(floor(CAST(l.l_partkey - s.xmin AS DOUBLE)
        |          / (s.xmax - s.xmin + 1) * 65536.0) AS BIGINT)) AS qx,
        |        LEAST(65535, CAST(floor(CAST(l.l_suppkey - s.ymin AS DOUBLE)
        |          / (s.ymax - s.ymin + 1) * 65536.0) AS BIGINT)) AS qy
        |      FROM d l CROSS JOIN s),
        |b AS (SELECT unnest(range(0, 16)) AS b)
        |SELECT q.l_orderkey, q.l_linenumber, q.l_partkey, q.l_suppkey,
        |  CAST(SUM(((q.qx >> b.b) % 2) * (CAST(1 AS BIGINT) << (2 * b.b))
        |         + ((q.qy >> b.b) % 2) * (CAST(1 AS BIGINT) << (2 * b.b + 1))) AS BIGINT) AS z
        |FROM q CROSS JOIN b
        |GROUP BY 1, 2, 3, 4
        |ORDER BY z, l_orderkey, l_linenumber, l_partkey, l_suppkey""".stripMargin,
    "q134_negative_sample" ->
      // identical modular-stride formula over the same doc_id-dense rank;
      // md5 text fingerprints drop accidental positives on both sides
      """WITH ranked AS (SELECT doc_id, COALESCE(md5(text), '__null__') AS f,
        |         row_number() OVER (ORDER BY doc_id) - 1 AS r FROM documents),
        |n AS (SELECT COUNT(*) AS n FROM documents),
        |js AS (SELECT unnest(range(1, 6)) AS j),
        |pairs AS (SELECT a.doc_id AS anchor_id, j.j AS j,
        |            (a.r + j.j * 7919) % n.n AS rb, a.f AS fa
        |          FROM ranked a CROSS JOIN n CROSS JOIN js j)
        |SELECT p.anchor_id, CAST(p.j AS INTEGER) AS j, b.doc_id AS neg_id
        |FROM pairs p JOIN ranked b ON b.r = p.rb
        |WHERE p.fa <> b.f AND p.anchor_id <> b.doc_id
        |ORDER BY anchor_id, j""".stripMargin,
    "q135_hard_negatives" ->
      // cross-label top-5. Products are DOUBLE×DOUBLE (each float cast
      // BEFORE multiplying) because the Spark path here is the JVM
      // heapScan cosine (toDouble products) — NOT the float-product native
      // expression q64 mirrors; a float-domain multiply in the oracle
      // would round differently and could flip near-tie ranks
      """SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
        |  CAST(row_number() OVER (PARTITION BY a.vec_id ORDER BY
        |    list_sum(list_transform(list_zip(a.embedding, b.embedding),
        |        p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
        |    / (sqrt(list_sum(list_transform(a.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
        |     * sqrt(list_sum(list_transform(b.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))))
        |    DESC, b.vec_id) AS INTEGER) AS rank
        |FROM embeddings a JOIN embeddings b ON b.label <> a.label
        |WHERE a.vec_id IN (0, 1, 2, 3, 4, 5, 6, 7)
        |QUALIFY rank <= 5
        |ORDER BY query_id, rank""".stripMargin,
    "q136_class_balance" ->
      // same ⌊T/m⌋ + (r < T mod m) allocation in the same md5-bucket order
      """WITH c AS (SELECT label, COUNT(*) AS m FROM embeddings GROUP BY 1),
        |t AS (SELECT MAX(m) AS target FROM c),
        |r AS (SELECT label, vec_id,
        |        row_number() OVER (PARTITION BY label
        |          ORDER BY substr(md5(CAST(vec_id AS VARCHAR)), 1, 2), vec_id) - 1 AS r
        |      FROM embeddings)
        |SELECT label, vec_id, unnest(generate_series(1, copies)) AS copy FROM (
        |  SELECT r.label, r.vec_id,
        |    t.target // c.m + CASE WHEN r.r < t.target % c.m THEN 1 ELSE 0 END AS copies
        |  FROM r JOIN c ON r.label IS NOT DISTINCT FROM c.label CROSS JOIN t)
        |ORDER BY label, vec_id, copy""".stripMargin,
    "q133_triangles" ->
      // node-id-ordered enumeration (x<y<z) — same triangle set the
      // degree-ordered Spark enumeration finds, each exactly once
      """WITH li AS (SELECT DISTINCT l_orderkey AS k, l_partkey AS p FROM lineitem),
        |e AS (SELECT DISTINCT x.p AS a, y.p AS b
        |      FROM li x JOIN li y ON x.k = y.k AND x.p < y.p),
        |deg AS (SELECT n, COUNT(*) AS deg
        |        FROM (SELECT a AS n FROM e UNION ALL SELECT b FROM e) GROUP BY 1),
        |tri AS (SELECT e1.a AS x, e1.b AS y, e2.b AS z
        |        FROM e e1 JOIN e e2 ON e2.a = e1.b
        |                  JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b),
        |tn AS (SELECT n, COUNT(*) AS triangles FROM
        |         (SELECT x AS n FROM tri UNION ALL SELECT y FROM tri
        |          UNION ALL SELECT z FROM tri) GROUP BY 1)
        |SELECT deg.n AS node, deg.deg AS deg,
        |  COALESCE(tn.triangles, 0) AS triangles,
        |  CASE WHEN deg.deg >= 2
        |    THEN CAST(COALESCE(tn.triangles, 0) * 2 AS DOUBLE) / (deg.deg * (deg.deg - 1))
        |    ELSE 0.0 END AS clustering
        |FROM deg LEFT JOIN tn ON tn.n = deg.n
        |ORDER BY node""".stripMargin,
    "q110_pagerank" ->
      // two Lloyd-style unrolled iterations; contributions go through
      // DECIMAL(28,9) before the order-dependent sum (the q88 recipe), the
      // damping step is a fixed double chain. DuckDB decimal literals: the
      // seed contribution is CAST(1.0 AS DOUBLE)/deg, not 1.0/deg (which
      // DuckDB would evaluate in decimal division — engine-specific)
      """WITH e0 AS (SELECT l_partkey * 2 AS src, l_suppkey * 2 + 1 AS dst FROM lineitem),
        |e AS (SELECT DISTINCT src, dst FROM
        |       (SELECT src, dst FROM e0 UNION ALL SELECT dst AS src, src AS dst FROM e0)),
        |deg AS (SELECT src, COUNT(*) AS deg FROM e GROUP BY 1),
        |r1 AS (SELECT e.dst AS node,
        |         0.15 + 0.85 * CAST(SUM(CAST(CAST(1.0 AS DOUBLE) / deg.deg AS DECIMAL(28,9))) AS DOUBLE) AS rank
        |       FROM e JOIN deg USING (src) GROUP BY e.dst),
        |r2 AS (SELECT e.dst AS node,
        |         0.15 + 0.85 * CAST(SUM(CAST(r1.rank / deg.deg AS DECIMAL(28,9))) AS DOUBLE) AS rank
        |       FROM e JOIN deg USING (src) JOIN r1 ON r1.node = e.src GROUP BY e.dst),
        |top AS (SELECT node AS nkey, CAST(CAST(rank AS DECIMAL(18,6)) AS DOUBLE) AS rank
        |        FROM r2 ORDER BY rank DESC, node LIMIT 20)
        |SELECT CASE WHEN nkey % 2 = 0 THEN 'p' || CAST(nkey // 2 AS VARCHAR)
        |            ELSE 's' || CAST((nkey - 1) // 2 AS VARCHAR) END AS node, rank
        |FROM top ORDER BY rank DESC, node""".stripMargin,
    "q326_pagerank_directed" ->
      // two unrolled dangling-mass iterations: every order node dangles,
      // its pooled DECIMAL(28,9) mass redistributes as m/n (ONE double
      // division), contributions quantize pre-sum — the q110 recipe plus
      // the leak fix; same 1.0−d literal chain as the engine
      """WITH e AS (SELECT DISTINCT o_custkey * 2 AS src, o_orderkey * 2 + 1 AS dst FROM orders),
        |nodes AS (SELECT DISTINCT node FROM (SELECT src AS node FROM e UNION ALL SELECT dst FROM e)),
        |deg AS (SELECT src, COUNT(*) AS deg FROM e GROUP BY 1),
        |nn AS (SELECT COUNT(*) AS n FROM nodes),
        |dang AS (SELECT node FROM nodes WHERE node NOT IN (SELECT src FROM deg)),
        |m0 AS (SELECT COALESCE(SUM(CAST(1.0 AS DECIMAL(28,9))), 0) AS m FROM dang),
        |s1 AS (SELECT e.dst, SUM(CAST(CAST(1.0 AS DOUBLE) / deg.deg AS DECIMAL(28,9))) AS s
        |       FROM e JOIN deg USING (src) GROUP BY e.dst),
        |r1 AS (SELECT node, 0.15 + 0.85 * (COALESCE(CAST(s AS DOUBLE), 0) + CAST(m AS DOUBLE) / n) AS rank
        |       FROM nodes LEFT JOIN s1 ON s1.dst = nodes.node CROSS JOIN m0 CROSS JOIN nn),
        |m1 AS (SELECT COALESCE(SUM(CAST(rank AS DECIMAL(28,9))), 0) AS m FROM r1
        |       WHERE node IN (SELECT node FROM dang)),
        |s2 AS (SELECT e.dst, SUM(CAST(r1.rank / deg.deg AS DECIMAL(28,9))) AS s
        |       FROM e JOIN deg USING (src) JOIN r1 ON r1.node = e.src GROUP BY e.dst),
        |r2 AS (SELECT node, 0.15 + 0.85 * (COALESCE(CAST(s AS DOUBLE), 0) + CAST(m AS DOUBLE) / n) AS rank
        |       FROM nodes LEFT JOIN s2 ON s2.dst = nodes.node CROSS JOIN m1 CROSS JOIN nn),
        |top AS (SELECT node AS nkey, CAST(CAST(rank AS DECIMAL(18,6)) AS DOUBLE) AS rank
        |        FROM r2 ORDER BY rank DESC, node LIMIT 20)
        |SELECT CASE WHEN nkey % 2 = 0 THEN 'c' || CAST(nkey // 2 AS VARCHAR)
        |            ELSE 'o' || CAST((nkey - 1) // 2 AS VARCHAR) END AS node, rank
        |FROM top ORDER BY rank DESC, node""".stripMargin,
    "q332_clustering_agreement" -> {
      // the q81 unrolled-Lloyd CTE prefix recomputes the assignments;
      // ARI from doubled exact pair counts, halving inside the double chain
      val prefix = kmeansOracleSql.substring(0, kmeansOracleSql.lastIndexOf("SELECT CAST(cluster"))
      prefix.stripTrailing() + ",\n" +
        """cont AS (SELECT a.cluster AS c, e.label AS g, COUNT(*) AS nij
          |  FROM aF a JOIN embeddings e ON e.vec_id = a.vec_id GROUP BY 1, 2),
          |ai AS (SELECT c, SUM(nij) AS a, MAX(nij) AS mx FROM cont GROUP BY 1),
          |bj AS (SELECT g, SUM(nij) AS b FROM cont GROUP BY 1),
          |t AS (SELECT
          |  (SELECT SUM(CAST(nij AS HUGEINT) * (nij - 1)) FROM cont) AS sij2,
          |  (SELECT SUM(nij) FROM cont) AS n,
          |  (SELECT SUM(CAST(a AS HUGEINT) * (a - 1)) FROM ai) AS sa2,
          |  (SELECT COUNT(*) FROM ai) AS kc,
          |  (SELECT SUM(mx) FROM ai) AS pur,
          |  (SELECT SUM(CAST(b AS HUGEINT) * (b - 1)) FROM bj) AS sb2,
          |  (SELECT COUNT(*) FROM bj) AS kl)
          |SELECT CAST(n AS BIGINT) AS n, CAST(kc AS BIGINT) AS n_clusters,
          |  CAST(kl AS BIGINT) AS n_labels,
          |  CAST(CAST(CAST(pur AS DOUBLE) / CAST(n AS DOUBLE) AS DECIMAL(18,9)) AS DOUBLE) AS purity,
          |  CASE WHEN (CAST(sa2 AS DOUBLE) / 2 + CAST(sb2 AS DOUBLE) / 2) / 2
          |         - CAST(sa2 AS DOUBLE) / 2 * (CAST(sb2 AS DOUBLE) / 2) / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1) / 2) <> 0
          |    THEN CAST(CAST(
          |      (CAST(sij2 AS DOUBLE) / 2 - CAST(sa2 AS DOUBLE) / 2 * (CAST(sb2 AS DOUBLE) / 2) / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1) / 2))
          |      / ((CAST(sa2 AS DOUBLE) / 2 + CAST(sb2 AS DOUBLE) / 2) / 2
          |         - CAST(sa2 AS DOUBLE) / 2 * (CAST(sb2 AS DOUBLE) / 2) / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1) / 2))
          |      AS DECIMAL(18,9)) AS DOUBLE) END AS ari
          |FROM t""".stripMargin
    },
    "q333_rake_keywords" ->
      // same phrase construction via a lateral positions join + running
      // stopword count; word scores quantized DECIMAL(18,9) pre-sum
      """WITH t AS (SELECT doc_id AS doc, regexp_extract_all(lower(text), '[a-z0-9]+') AS toks FROM documents),
        |ptok AS (SELECT doc, r.i AS pos, toks[r.i] AS tok
        |  FROM t, LATERAL (SELECT unnest(range(1, len(toks) + 1)) AS i) r),
        |marked AS (SELECT doc, pos, tok,
        |    tok IN ('the','of','and','a','to','in','is','it','for','on','with','as','at','by','an','be','this','that','from','or','are','was','were','will','has','have','had','not','but','they') AS stop
        |  FROM ptok),
        |ph AS (SELECT doc, pos, tok,
        |    SUM(CASE WHEN stop THEN 1 ELSE 0 END) OVER (PARTITION BY doc ORDER BY pos
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pid
        |  FROM marked QUALIFY NOT stop),
        |phr AS (SELECT doc, pid, COUNT(*) AS plen,
        |    string_agg(tok, ' ' ORDER BY pos) AS phrase
        |  FROM ph GROUP BY 1, 2),
        |members AS (SELECT ph.doc, ph.pid, ph.tok, phr.plen, phr.phrase
        |  FROM ph JOIN phr USING (doc, pid)),
        |ws AS (SELECT tok,
        |    CAST(CAST(SUM(plen) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS DECIMAL(18,9)) AS ws
        |  FROM members GROUP BY 1),
        |occ AS (SELECT m.doc, m.pid, m.phrase, SUM(ws.ws) AS s
        |  FROM members m JOIN ws USING (tok) GROUP BY 1, 2, 3)
        |SELECT phrase, COUNT(*) AS n_occurrences, CAST(MAX(s) AS DOUBLE) AS score
        |FROM occ GROUP BY phrase
        |ORDER BY score DESC, phrase LIMIT 30""".stripMargin,
    "q334_position_attribution" ->
      // same per-user interval join + rank window; each credit quantized
      // DECIMAL(18,9) before the channel sum
      """WITH conv AS (SELECT user_id AS u, CAST(floor(epoch(ts)) AS BIGINT) AS cts, event_id AS cid
        |  FROM events WHERE event_type = 'purchase'),
        |touch AS (SELECT user_id AS u, CAST(floor(epoch(ts)) AS BIGINT) AS tts, event_id AS tid,
        |    event_type AS channel
        |  FROM events WHERE event_type IN ('view', 'click', 'signup')),
        |j AS (SELECT conv.u, conv.cid, touch.tts, touch.tid, touch.channel
        |  FROM conv JOIN touch ON touch.u = conv.u
        |    AND touch.tts < conv.cts AND touch.tts >= conv.cts - 604800),
        |rk AS (SELECT u, cid, channel,
        |    row_number() OVER (PARTITION BY u, cid ORDER BY tts, tid) AS r,
        |    COUNT(*) OVER (PARTITION BY u, cid) AS k
        |  FROM j),
        |cr AS (SELECT channel, cid,
        |    CAST(CASE WHEN k = 1 THEN CAST(1.0 AS DOUBLE)
        |         WHEN r = 1 OR r = k THEN (CASE WHEN k = 2 THEN CAST(0.5 AS DOUBLE) ELSE CAST(0.4 AS DOUBLE) END)
        |         ELSE CAST(0.2 AS DOUBLE) / (CAST(k AS DOUBLE) - 2) END AS DECIMAL(18,9)) AS credit
        |  FROM rk)
        |SELECT channel, CAST(SUM(credit) AS DOUBLE) AS total_credit,
        |  COUNT(*) AS n_touches, COUNT(DISTINCT cid) AS n_conversions
        |FROM cr GROUP BY channel ORDER BY channel""".stripMargin,
    "q358_funnel_timing" ->
      // greedy first-occurrence chain unrolled per tier; latencies are
      // floor-epoch integer seconds; q35's quantile_cont decimal recipe
      """WITH t1 AS (SELECT user_id AS u, min(ts) AS t1 FROM events
        |            WHERE event_type = 'view' GROUP BY 1),
        |t2 AS (SELECT e.user_id AS u, min(e.ts) AS t2, min(t1.t1) AS t1
        |       FROM events e JOIN t1 ON e.user_id = t1.u
        |       WHERE e.event_type = 'click' AND e.ts > t1.t1
        |         AND e.ts <= t1.t1 + INTERVAL 7 DAY GROUP BY 1),
        |t3 AS (SELECT e.user_id AS u, min(e.ts) AS t3, min(t2.t2) AS t2
        |       FROM events e JOIN t2 ON e.user_id = t2.u
        |       WHERE e.event_type = 'purchase' AND e.ts > t2.t2
        |         AND e.ts <= t2.t1 + INTERVAL 7 DAY GROUP BY 1),
        |lat AS (SELECT 1 AS step_idx, 'view>click' AS step,
        |          CAST(floor(epoch(t2)) AS BIGINT) - CAST(floor(epoch(t1)) AS BIGINT) AS lat
        |        FROM t2
        |        UNION ALL
        |        SELECT 2, 'click>purchase',
        |          CAST(floor(epoch(t3)) AS BIGINT) - CAST(floor(epoch(t2)) AS BIGINT)
        |        FROM t3)
        |SELECT step_idx, step, COUNT(*) AS n_converted,
        |  CAST(CAST(quantile_cont(lat, 0.5) AS DECIMAL(18,4)) AS DOUBLE) AS p50_sec,
        |  CAST(CAST(quantile_cont(lat, 0.9) AS DECIMAL(18,4)) AS DOUBLE) AS p90_sec
        |FROM lat GROUP BY 1, 2 ORDER BY step_idx""".stripMargin,
    "q359_recursive_ldiv" ->
      // sensitive frequencies ranked desc (tie: value asc); the c·tail
      // product is exact DECIMAL(18,6) — nothing representation-sensitive
      """WITH cells AS (SELECT c_mktsegment, c_nationkey,
        |    CAST(CAST(FLOOR(c_acctbal / 1000) AS BIGINT) AS VARCHAR) AS s,
        |    COUNT(*) AS r
        |  FROM customer GROUP BY 1, 2, 3),
        |rk AS (SELECT *, row_number() OVER (PARTITION BY c_mktsegment, c_nationkey
        |         ORDER BY r DESC, s) AS rk FROM cells)
        |SELECT c_mktsegment, c_nationkey,
        |  CAST(SUM(r) AS BIGINT) AS class_size,
        |  COUNT(*) AS m_distinct,
        |  CAST(MAX(CASE WHEN rk = 1 THEN r END) AS BIGINT) AS r1,
        |  CAST(COALESCE(SUM(CASE WHEN rk >= 3 THEN r END), 0) AS BIGINT) AS tail_from_l,
        |  CAST(CAST(MAX(CASE WHEN rk = 1 THEN r END) AS DECIMAL(18,6)) >=
        |    CAST(2.0 AS DECIMAL(18,6)) *
        |    CAST(COALESCE(SUM(CASE WHEN rk >= 3 THEN r END), 0) AS DECIMAL(18,6))
        |    AS INT) AS cl_violation
        |FROM rk GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q360_assortativity" ->
      // q299's repeat-graph CTE; five scale-0 power sums, one double
      // chain num/(sqrt·sqrt) — sqrt is the one portable libm call
      """WITH li AS (SELECT DISTINCT l_orderkey AS k, l_partkey AS p FROM lineitem),
        |ew AS (SELECT x.p AS a, y.p AS b, COUNT(*) AS wt
        |       FROM li x JOIN li y ON x.k = y.k AND x.p < y.p GROUP BY 1, 2),
        |e0 AS (SELECT a, b FROM ew WHERE wt >= 2),
        |e AS (SELECT a, b FROM e0 UNION ALL SELECT b, a FROM e0),
        |deg AS (SELECT a AS n, COUNT(*) AS deg FROM e GROUP BY 1),
        |dp AS (SELECT d1.deg AS da, d2.deg AS db
        |       FROM e JOIN deg d1 ON e.a = d1.n JOIN deg d2 ON e.b = d2.n),
        |f AS (SELECT COUNT(*) AS ne,
        |    CAST(SUM(CAST(da AS DECIMAL(19,0))) AS DECIMAL(38,0)) AS sx,
        |    CAST(SUM(CAST(db AS DECIMAL(19,0))) AS DECIMAL(38,0)) AS sy,
        |    CAST(SUM(CAST(CAST(da AS DECIMAL(19,0)) * CAST(da AS DECIMAL(19,0)) AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sxx,
        |    CAST(SUM(CAST(CAST(db AS DECIMAL(19,0)) * CAST(db AS DECIMAL(19,0)) AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS syy,
        |    CAST(SUM(CAST(CAST(da AS DECIMAL(19,0)) * CAST(db AS DECIMAL(19,0)) AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sxy
        |  FROM dp),
        |g AS (SELECT ne, sx,
        |    CAST(CAST(ne AS DECIMAL(38,0)) * sxy - CAST(sx * sy AS DECIMAL(38,0)) AS DECIMAL(38,0)) AS num,
        |    CAST(CAST(ne AS DECIMAL(38,0)) * sxx - CAST(sx * sx AS DECIMAL(38,0)) AS DECIMAL(38,0)) AS vx,
        |    CAST(CAST(ne AS DECIMAL(38,0)) * syy - CAST(sy * sy AS DECIMAL(38,0)) AS DECIMAL(38,0)) AS vy
        |  FROM f)
        |SELECT CAST(ne / 2 AS BIGINT) AS n_edges,
        |  CAST(CAST(CAST(sx AS DOUBLE) / CAST(ne AS DOUBLE) AS DECIMAL(18,9)) AS DOUBLE) AS mean_end_degree,
        |  CAST(CAST(CASE WHEN vx > 0 AND vy > 0 THEN
        |      CAST(num AS DOUBLE) / (sqrt(CAST(vx AS DOUBLE)) * sqrt(CAST(vy AS DOUBLE)))
        |    END AS DECIMAL(18,9)) AS DOUBLE) AS assortativity
        |FROM g""".stripMargin,
    "q361_hl_shift" ->
      // integer-cent daily sums; median of pairwise diffs interpolates
      // at fraction 0 or exactly 1/2 — always representable, 4 dp
      """WITH a AS (SELECT CAST(l_shipdate AS DATE) AS day,
        |    SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) AS va
        |  FROM lineitem WHERE l_returnflag = 'A' GROUP BY 1),
        |b AS (SELECT CAST(l_shipdate AS DATE) AS day,
        |    SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) AS vb
        |  FROM lineitem WHERE l_returnflag = 'R' GROUP BY 1),
        |d AS (SELECT a.va - b.vb AS d FROM a, b)
        |SELECT COUNT(*) AS n_pairs,
        |  CAST(CAST(quantile_cont(d, 0.5) AS DECIMAL(18,4)) AS DOUBLE) AS hl_shift
        |FROM d""".stripMargin,
    "q362_drawdown" ->
      // cum then peak-of-cum (two window layers, same partitioning);
      // all money math exact DECIMAL in integer cents
      """WITH daily AS (SELECT l_returnflag AS g, CAST(l_shipdate AS DATE) AS d,
        |    CAST(SUM(CAST(CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)
        |      AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS dv
        |  FROM lineitem GROUP BY 1, 2),
        |c1 AS (SELECT g, d, CAST(SUM(dv) OVER (PARTITION BY g ORDER BY d
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DECIMAL(38,2)) AS cum
        |  FROM daily),
        |c2 AS (SELECT g, d, cum, CAST(MAX(cum) OVER (PARTITION BY g ORDER BY d
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DECIMAL(38,2)) AS peak
        |  FROM c1),
        |c3 AS (SELECT g, d, cum, peak, CAST(peak - cum AS DECIMAL(38,2)) AS dd FROM c2),
        |m AS (SELECT g AS gg, MAX(dd) AS max_dd FROM c3 GROUP BY 1),
        |tr AS (SELECT gg, MIN(d) AS trough_d
        |       FROM m JOIN c3 ON c3.g = m.gg AND c3.dd = m.max_dd GROUP BY 1)
        |SELECT g AS l_returnflag, COUNT(*) AS n_points,
        |  CAST(CAST(MAX(dd) AS DECIMAL(18,2)) AS DOUBLE) AS max_drawdown,
        |  CAST(MAX(trough_d) AS VARCHAR) AS trough_date,
        |  CAST(CAST(MAX(CASE WHEN d = trough_d THEN peak END) AS DECIMAL(18,2)) AS DOUBLE) AS peak_at_trough,
        |  CAST(MAX(CASE WHEN d >= trough_d THEN cum END) >=
        |       MAX(CASE WHEN d = trough_d THEN peak END) AS INT) AS recovered
        |FROM c3 JOIN tr ON c3.g = tr.gg GROUP BY 1 ORDER BY 1""".stripMargin,
    "q363_rbo" ->
      // weights are the SAME pre-quantized (1-p)p^(d-1) DECIMAL(18,12)
      // literals the Spark side computes in exact BigDecimal; agreement
      // in integer nano-units (the MAP@k recipe)
      """WITH ya AS (SELECT l_partkey AS item,
        |    SUM(CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) AS rev
        |  FROM lineitem WHERE EXTRACT(year FROM l_shipdate) = 1996 GROUP BY 1),
        |yb AS (SELECT l_partkey AS item,
        |    SUM(CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) AS rev
        |  FROM lineitem WHERE EXTRACT(year FROM l_shipdate) = 1997 GROUP BY 1),
        |ra AS (SELECT item, row_number() OVER (ORDER BY rev DESC, item) AS ra
        |       FROM ya QUALIFY ra <= 40),
        |rb AS (SELECT item, row_number() OVER (ORDER BY rev DESC, item) AS rb
        |       FROM yb QUALIFY rb <= 40),
        |pairs AS (SELECT GREATEST(ra.ra, rb.rb) AS mr FROM ra JOIN rb USING (item)),
        |w AS (SELECT d, CAST(wt AS DECIMAL(18,12)) AS wt FROM (VALUES
        |  (1,0.100000000000),(2,0.090000000000),(3,0.081000000000),(4,0.072900000000),
        |  (5,0.065610000000),(6,0.059049000000),(7,0.053144100000),(8,0.047829690000),
        |  (9,0.043046721000),(10,0.038742048900),(11,0.034867844010),(12,0.031381059609),
        |  (13,0.028242953648),(14,0.025418658283),(15,0.022876792455),(16,0.020589113209),
        |  (17,0.018530201889),(18,0.016677181700),(19,0.015009463530),(20,0.013508517177),
        |  (21,0.012157665459),(22,0.010941898913),(23,0.009847709022),(24,0.008862938120),
        |  (25,0.007976644308),(26,0.007178979877),(27,0.006461081889),(28,0.005814973700),
        |  (29,0.005233476330),(30,0.004710128697),(31,0.004239115828),(32,0.003815204245),
        |  (33,0.003433683820),(34,0.003090315438),(35,0.002781283894),(36,0.002503155505),
        |  (37,0.002252839954),(38,0.002027555959),(39,0.001824800363),(40,0.001642320327)
        |  ) AS t(d, wt)),
        |ov AS (SELECT d, wt, COUNT(*) AS ov FROM pairs JOIN w ON mr <= d GROUP BY 1, 2),
        |f AS (SELECT MAX(CASE WHEN d = 40 THEN ov END) AS n_common,
        |    SUM(CAST(wt * CAST(CAST(round(CAST(ov AS DOUBLE) / CAST(d AS DOUBLE) * 1e9)
        |      AS BIGINT) AS DECIMAL(20,0)) AS DECIMAL(38,12))) AS s2
        |  FROM ov)
        |SELECT CAST(40 AS INT) AS depth,
        |  CAST(COALESCE(n_common, 0) AS BIGINT) AS n_common,
        |  COALESCE(CAST(CAST(CAST(s2 AS DOUBLE) / 1e9 AS DECIMAL(18,9)) AS DOUBLE), 0.0) AS rbo,
        |  CAST(0.014780882941 AS DOUBLE) AS tail_bound
        |FROM f""".stripMargin,
    "q364_holm" ->
      // q256's Chernoff p-values, then the Holm step-down lattice in
      // exact nano integers: running MAX of (m-i+1)·p, exact rejection
      """WITH counts AS (SELECT c_nationkey AS key, count(*) AS n_k FROM customer GROUP BY 1),
        |tot AS (SELECT SUM(n_k) AS n_total, COUNT(*) AS m FROM counts),
        |pv AS (SELECT key, CAST(exp(
        |    ((CAST(n_k AS DOUBLE) - CAST(n_total AS DOUBLE) / CAST(m AS DOUBLE))
        |      * (CAST(n_k AS DOUBLE) - CAST(n_total AS DOUBLE) / CAST(m AS DOUBLE))
        |      / ((CAST(n_total AS DOUBLE) / CAST(m AS DOUBLE)) * (1 - 1 / CAST(m AS DOUBLE)))) * -0.5)
        |    AS DECIMAL(18,9)) AS p, m
        |  FROM counts CROSS JOIN tot),
        |b AS (SELECT key, p, m, row_number() OVER (ORDER BY p, key) AS rnk FROM pv),
        |h AS (SELECT key, p, rnk,
        |    max(least(1000000000, CAST(round(CAST(p AS DOUBLE) * 1e9) AS BIGINT) * (m - rnk + 1)))
        |      OVER (ORDER BY p, key ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS adj_nano
        |  FROM b),
        |istar AS (SELECT COALESCE(MIN(CASE WHEN CAST(round(CAST(p AS DOUBLE) * 1e9) AS BIGINT)
        |    * (m - rnk + 1) > 50000000 THEN rnk END), MAX(rnk) + 1) AS i_star FROM b)
        |SELECT key, CAST(p AS DOUBLE) AS p, CAST(rnk AS BIGINT) AS rnk,
        |  CAST(adj_nano AS DOUBLE) / 1e9 AS p_adj,
        |  CASE WHEN rnk < i_star THEN 1 ELSE 0 END AS rejected
        |FROM h CROSS JOIN istar ORDER BY rnk""".stripMargin,
    "q365_kneser_ney" ->
      // same q109 bigram expansion; all four count tables re-aggregate
      // the TYPE table; one mirrored left-assoc double chain, 9 dp
      """WITH t AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS toks FROM documents),
        |dt AS (SELECT toks[CAST(i AS INT)] AS w1, toks[CAST(i AS INT) + 1] AS w2
        |       FROM t, unnest(range(1, len(toks))) AS u(i)
        |       WHERE len(toks) >= 2),
        |big AS (SELECT w1, w2, COUNT(*) AS c12 FROM dt GROUP BY 1, 2),
        |c1 AS (SELECT w1, CAST(SUM(c12) AS BIGINT) AS c1, COUNT(*) AS n1f FROM big GROUP BY 1),
        |n1b AS (SELECT w2, COUNT(*) AS n1b FROM big GROUP BY 1),
        |bt AS (SELECT COUNT(*) AS bt FROM big)
        |SELECT w1, w2, CAST(c12 AS BIGINT) AS c12, c1,
        |  CAST(CAST((CAST(c12 AS DOUBLE) - 0.75) / CAST(c1 AS DOUBLE)
        |    + (0.75 * CAST(n1f AS DOUBLE) / CAST(c1 AS DOUBLE))
        |      * (CAST(n1b AS DOUBLE) / CAST(bt AS DOUBLE))
        |    AS DECIMAL(18,9)) AS DOUBLE) AS p_kn,
        |  CAST(CAST(CAST(n1b AS DOUBLE) / CAST(bt AS DOUBLE) AS DECIMAL(18,9)) AS DOUBLE) AS p_continuation
        |FROM big JOIN c1 USING (w1) JOIN n1b USING (w2) CROSS JOIN bt
        |ORDER BY c12 DESC, w1, w2 LIMIT 30""".stripMargin,
    "q366_c4_rules" ->
      // trimmed non-blank line population; RE2∩Java regex predicates;
      // exact-integer ratios double-divided once, 4 dp
      """WITH base AS (SELECT doc_id, text,
        |    list_filter(list_transform(string_split(text, chr(10)), l -> trim(l)),
        |      l -> length(l) > 0) AS lines
        |  FROM documents),
        |f AS (SELECT doc_id,
        |    CAST(len(lines) AS BIGINT) AS n_lines,
        |    CAST(length(text) - length(regexp_replace(text, '[.!?]', '', 'g')) AS BIGINT) AS n_sentences,
        |    CASE WHEN len(lines) > 0 THEN
        |      CAST(CAST(CAST(len(list_filter(lines, l -> regexp_matches(l, '[.!?"]$'))) AS DOUBLE)
        |        / CAST(len(lines) AS DOUBLE) AS DECIMAL(18,4)) AS DOUBLE) END AS terminal_frac,
        |    CASE WHEN len(lines) > 0 THEN
        |      CAST(CAST(CAST(len(list_filter(lines, l -> NOT regexp_matches(l, '(\S+\s+){2}'))) AS DOUBLE)
        |        / CAST(len(lines) AS DOUBLE) AS DECIMAL(18,4)) AS DOUBLE) END AS stub_frac,
        |    contains(lower(text), 'lorem ipsum') AS has_lorem,
        |    contains(text, '{') AS has_brace,
        |    contains(lower(text), 'javascript') AS has_js_warning
        |  FROM base)
        |SELECT doc_id, n_lines, n_sentences, terminal_frac, stub_frac,
        |  has_lorem, has_brace, has_js_warning,
        |  (COALESCE(terminal_frac, 0) >= 0.5 AND n_sentences >= 3
        |    AND NOT has_lorem AND NOT has_brace AND NOT has_js_warning) AS passes
        |FROM f ORDER BY doc_id""".stripMargin,
    "q367_compaction_plan" ->
      // streaming split: a file starts bin floor(bytes_before/target);
      // one running-sum window per partition, all exact integers
      """WITH m AS (SELECT source AS part, lpad(CAST(doc_id AS VARCHAR), 8, '0') AS file,
        |    n_chars AS bytes FROM documents),
        |c AS (SELECT part, file, bytes, SUM(bytes) OVER (PARTITION BY part ORDER BY file
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum FROM m),
        |b AS (SELECT part, file, bytes, (cum - bytes) // 2000 AS bin FROM c)
        |SELECT part, CAST(bin AS BIGINT) AS bin, COUNT(*) AS n_files,
        |  CAST(SUM(bytes) AS BIGINT) AS bytes_total,
        |  MIN(file) AS first_file, MAX(file) AS last_file,
        |  (CAST(SUM(bytes) AS BIGINT) < 2000) AS undersized
        |FROM b GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q368_vocab_turnover" ->
      // distinct (slice, token) types once; adjacent pairs by slice
      // rank; shared via the i ↔ i+1 token join; one division, 9 dp
      """WITH st AS (SELECT DISTINCT source AS slice, tok FROM
        |    (SELECT source, unnest(list_distinct(regexp_extract_all(lower(text), '[a-z0-9]+'))) AS tok
        |     FROM documents)),
        |idx AS (SELECT slice, row_number() OVER (ORDER BY slice) AS i
        |        FROM (SELECT DISTINCT slice FROM st)),
        |sti AS (SELECT i, slice, tok FROM st JOIN idx USING (slice)),
        |tot AS (SELECT i, slice, COUNT(*) AS n_types FROM sti GROUP BY 1, 2),
        |sh AS (SELECT a.i AS ip, COUNT(*) AS n_shared
        |       FROM sti a JOIN sti b ON a.tok = b.tok AND b.i = a.i + 1 GROUP BY 1)
        |SELECT p.slice AS prev_slice, n.slice AS next_slice,
        |  CAST(p.n_types AS BIGINT) AS n_prev, CAST(n.n_types AS BIGINT) AS n_next,
        |  CAST(COALESCE(s.n_shared, 0) AS BIGINT) AS n_shared,
        |  CAST(n.n_types - COALESCE(s.n_shared, 0) AS BIGINT) AS n_new,
        |  CAST(p.n_types - COALESCE(s.n_shared, 0) AS BIGINT) AS n_churned,
        |  CAST(CAST(CAST(COALESCE(s.n_shared, 0) AS DOUBLE)
        |    / CAST(p.n_types + n.n_types - COALESCE(s.n_shared, 0) AS DOUBLE)
        |    AS DECIMAL(18,9)) AS DOUBLE) AS jaccard
        |FROM tot p JOIN tot n ON n.i = p.i + 1 LEFT JOIN sh s ON s.ip = p.i
        |ORDER BY prev_slice""".stripMargin,
    "q369_lof" ->
      // DBSCAN's eps-grid pair recipe; dist = sqrt chain (IEEE-portable);
      // reach/lrd quantized DECIMAL(18,9) pre-sum; full neighborhoods only
      """WITH pts AS (SELECT vec_id AS id, CAST(embedding[1] AS DOUBLE) AS x,
        |    CAST(embedding[2] AS DOUBLE) AS y FROM embeddings),
        |home AS (SELECT id AS id_b, x AS xb, y AS yb,
        |    CAST(floor(x / 0.1) AS BIGINT) AS cx, CAST(floor(y / 0.1) AS BIGINT) AS cy FROM pts),
        |probe AS (SELECT id AS id_a, x AS xa, y AS ya,
        |    CAST(floor(x / 0.1) AS BIGINT) + dx AS cx, CAST(floor(y / 0.1) AS BIGINT) + dy AS cy
        |  FROM pts, (VALUES (-1), (0), (1)) dxs(dx), (VALUES (-1), (0), (1)) dys(dy)),
        |pr AS (SELECT id_a, id_b,
        |    sqrt((xa - xb) * (xa - xb) + (ya - yb) * (ya - yb)) AS dist
        |  FROM probe JOIN home USING (cx, cy) WHERE id_a <> id_b),
        |p2 AS (SELECT * FROM pr WHERE dist <= 0.1),
        |knn AS (SELECT id_a, id_b, dist,
        |    row_number() OVER (PARTITION BY id_a ORDER BY dist, id_b) AS rk
        |  FROM p2 QUALIFY rk <= 5),
        |kd AS (SELECT id_a, MAX(dist) AS kdist FROM knn GROUP BY 1 HAVING COUNT(*) = 5),
        |reach AS (SELECT k.id_a, CAST(greatest(kd.kdist, k.dist) AS DECIMAL(18,9)) AS reach
        |          FROM knn k JOIN kd ON kd.id_a = k.id_b),
        |lrd AS (SELECT id_a, CAST(5.0 / CAST(SUM(reach) AS DOUBLE) AS DECIMAL(18,9)) AS lrd
        |        FROM reach GROUP BY 1 HAVING COUNT(*) = 5 AND SUM(reach) > 0),
        |num AS (SELECT k.id_a, SUM(l.lrd) AS slrd FROM knn k JOIN lrd l ON l.id_a = k.id_b
        |        GROUP BY 1 HAVING COUNT(*) = 5)
        |SELECT n.id_a AS vec_id,
        |  CAST(CAST(kd.kdist AS DECIMAL(18,9)) AS DOUBLE) AS k_dist,
        |  CAST(l.lrd AS DOUBLE) AS lrd,
        |  CAST(CAST((CAST(n.slrd AS DOUBLE) / 5.0) / CAST(l.lrd AS DOUBLE)
        |    AS DECIMAL(18,9)) AS DOUBLE) AS lof
        |FROM num n JOIN lrd l USING (id_a) JOIN kd USING (id_a)
        |ORDER BY lof DESC, vec_id LIMIT 20""".stripMargin,
    "q370_interarrival" ->
      // per-(type,user) lag gaps in exact integer micros; scale-0 power
      // sums; median via quantile_cont (.0/.5 on integers); ln2 literal
      """WITH e AS (SELECT event_type AS et, user_id AS u, epoch_us(ts) AS ts_us,
        |    event_id AS tb FROM events),
        |g0 AS (SELECT et, ts_us - lag(ts_us) OVER (PARTITION BY et, u ORDER BY ts_us, tb) AS g FROM e),
        |g AS (SELECT et, g FROM g0 WHERE g IS NOT NULL),
        |a AS (SELECT et, COUNT(*) AS n,
        |    CAST(SUM(CAST(g AS DECIMAL(19,0))) AS DECIMAL(38,0)) AS sg,
        |    CAST(SUM(CAST(CAST(g AS DECIMAL(19,0)) * CAST(g AS DECIMAL(19,0)) AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sgg,
        |    quantile_cont(g, 0.5) AS med
        |  FROM g GROUP BY 1)
        |SELECT et AS event_type, CAST(n AS BIGINT) AS n_gaps,
        |  CAST(CAST(round(CAST(sg AS DOUBLE) / CAST(n AS DOUBLE) * 1e4) AS BIGINT) AS DOUBLE) / 1e4 AS mean_us,
        |  CAST(CAST(med AS DECIMAL(18,4)) AS DOUBLE) AS median_us,
        |  CAST(CAST(med / (CAST(sg AS DOUBLE) / CAST(n AS DOUBLE)) - 0.6931471805599453
        |    AS DECIMAL(18,9)) AS DOUBLE) AS memoryless_gap,
        |  CASE WHEN n > 1 AND sg > 0 THEN
        |    CAST(CAST(sqrt((CAST(sgg AS DOUBLE) - CAST(sg AS DOUBLE) * CAST(sg AS DOUBLE)
        |        / CAST(n AS DOUBLE)) / (CAST(n AS DOUBLE) - 1))
        |      / (CAST(sg AS DOUBLE) / CAST(n AS DOUBLE)) AS DECIMAL(18,9)) AS DOUBLE) END AS cv
        |FROM a ORDER BY event_type""".stripMargin,
    "q371_curve_locality" ->
      // the same level-materialized Hilbert walk as chained CTEs
      // (s = 16,8,4,2,1), Morton by bit sum; exact integer bit math
      """WITH pts AS (SELECT
        |    CAST('0x' || substring(md5('cx:' || CAST(c_custkey AS VARCHAR)), 1, 8) AS BIGINT) % 32 AS x,
        |    CAST('0x' || substring(md5('cy:' || CAST(c_custkey AS VARCHAR)), 1, 8) AS BIGINT) % 32 AS y
        |  FROM customer),
        |cells AS (SELECT DISTINCT x, y FROM pts WHERE x >= 0 AND x < 32 AND y >= 0 AND y < 32),
        |z AS (SELECT x, y,
        |    ((x // 1) % 2) * 1 + ((y // 1) % 2) * 2 + ((x // 2) % 2) * 4 + ((y // 2) % 2) * 8
        |    + ((x // 4) % 2) * 16 + ((y // 4) % 2) * 32 + ((x // 8) % 2) * 64 + ((y // 8) % 2) * 128
        |    + ((x // 16) % 2) * 256 + ((y // 16) % 2) * 512 AS zi,
        |    x AS hx, y AS hy, CAST(0 AS BIGINT) AS hd FROM cells),
        |l4 AS (SELECT x, y, zi, hd + 256 * xor(3 * rx, ry) AS hd,
        |    CASE WHEN ry = 0 THEN (CASE WHEN rx = 1 THEN 31 - hy ELSE hy END) ELSE hx END AS hx,
        |    CASE WHEN ry = 0 THEN (CASE WHEN rx = 1 THEN 31 - hx ELSE hx END) ELSE hy END AS hy
        |  FROM (SELECT *, CASE WHEN (hx & 16) > 0 THEN 1 ELSE 0 END AS rx,
        |          CASE WHEN (hy & 16) > 0 THEN 1 ELSE 0 END AS ry FROM z)),
        |l3 AS (SELECT x, y, zi, hd + 64 * xor(3 * rx, ry) AS hd,
        |    CASE WHEN ry = 0 THEN (CASE WHEN rx = 1 THEN 31 - hy ELSE hy END) ELSE hx END AS hx,
        |    CASE WHEN ry = 0 THEN (CASE WHEN rx = 1 THEN 31 - hx ELSE hx END) ELSE hy END AS hy
        |  FROM (SELECT *, CASE WHEN (hx & 8) > 0 THEN 1 ELSE 0 END AS rx,
        |          CASE WHEN (hy & 8) > 0 THEN 1 ELSE 0 END AS ry FROM l4)),
        |l2 AS (SELECT x, y, zi, hd + 16 * xor(3 * rx, ry) AS hd,
        |    CASE WHEN ry = 0 THEN (CASE WHEN rx = 1 THEN 31 - hy ELSE hy END) ELSE hx END AS hx,
        |    CASE WHEN ry = 0 THEN (CASE WHEN rx = 1 THEN 31 - hx ELSE hx END) ELSE hy END AS hy
        |  FROM (SELECT *, CASE WHEN (hx & 4) > 0 THEN 1 ELSE 0 END AS rx,
        |          CASE WHEN (hy & 4) > 0 THEN 1 ELSE 0 END AS ry FROM l3)),
        |l1 AS (SELECT x, y, zi, hd + 4 * xor(3 * rx, ry) AS hd,
        |    CASE WHEN ry = 0 THEN (CASE WHEN rx = 1 THEN 31 - hy ELSE hy END) ELSE hx END AS hx,
        |    CASE WHEN ry = 0 THEN (CASE WHEN rx = 1 THEN 31 - hx ELSE hx END) ELSE hy END AS hy
        |  FROM (SELECT *, CASE WHEN (hx & 2) > 0 THEN 1 ELSE 0 END AS rx,
        |          CASE WHEN (hy & 2) > 0 THEN 1 ELSE 0 END AS ry FROM l2)),
        |l0 AS (SELECT x, y, zi, hd + 1 * xor(3 * rx, ry) AS hd
        |  FROM (SELECT *, CASE WHEN (hx & 1) > 0 THEN 1 ELSE 0 END AS rx,
        |          CASE WHEN (hy & 1) > 0 THEN 1 ELSE 0 END AS ry FROM l1)),
        |j AS (SELECT 'hilbert' AS curve, x, y,
        |        lag(x) OVER (ORDER BY hd) AS px, lag(y) OVER (ORDER BY hd) AS py FROM l0
        |      UNION ALL
        |      SELECT 'zorder', x, y,
        |        lag(x) OVER (ORDER BY zi), lag(y) OVER (ORDER BY zi) FROM l0)
        |SELECT curve, COUNT(*) + 1 AS n_cells,
        |  CAST(SUM(abs(x - px) + abs(y - py)) AS BIGINT) AS total_jump,
        |  CAST(MAX(abs(x - px) + abs(y - py)) AS BIGINT) AS max_jump,
        |  CAST(CAST(CAST(SUM(abs(x - px) + abs(y - py)) AS DOUBLE)
        |    / (CAST(COUNT(*) + 1 AS DOUBLE) - 1) AS DECIMAL(18,9)) AS DOUBLE) AS avg_jump
        |FROM j WHERE px IS NOT NULL GROUP BY 1 ORDER BY curve""".stripMargin,
    "q372_yuen" ->
      // rank/winsorize in exact integers; swvar/d/t/df mirrored double
      // chains; h = n − 2·floor(0.2n)
      """WITH daily AS (SELECT l_returnflag AS f, CAST(l_shipdate AS DATE) AS day,
        |    SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) AS cents
        |  FROM lineitem WHERE l_returnflag IN ('A', 'R') GROUP BY 1, 2),
        |base AS (SELECT CASE WHEN f = 'A' THEN 1 ELSE 0 END AS t, cents AS v FROM daily),
        |r AS (SELECT t, v, row_number() OVER (PARTITION BY t ORDER BY v) AS rk,
        |        COUNT(*) OVER (PARTITION BY t) AS n FROM base),
        |r2 AS (SELECT *, CAST(floor(CAST(n AS DOUBLE) * 0.2) AS BIGINT) AS g FROM r),
        |b AS (SELECT t AS tb, MIN(CASE WHEN rk > g THEN v END) AS lo,
        |        MAX(CASE WHEN rk <= n - g THEN v END) AS hi FROM r2 GROUP BY 1),
        |pg AS (SELECT t, MAX(n) AS n, MAX(g) AS g,
        |    CAST(SUM(CASE WHEN rk > g AND rk <= n - g THEN CAST(v AS DECIMAL(19,0)) END) AS DECIMAL(38,0)) AS tsum,
        |    CAST(SUM(CAST(least(greatest(v, lo), hi) AS DECIMAL(19,0))) AS DECIMAL(38,0)) AS wsum,
        |    CAST(SUM(CAST(CAST(least(greatest(v, lo), hi) AS DECIMAL(19,0))
        |      * CAST(least(greatest(v, lo), hi) AS DECIMAL(19,0)) AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS wsq
        |  FROM r2 JOIN b ON b.tb = r2.t GROUP BY 1),
        |s AS (SELECT t, n, g, n - 2 * g AS h, tsum, wsum, wsq,
        |    (CAST(wsq AS DOUBLE) - CAST(wsum AS DOUBLE) * CAST(wsum AS DOUBLE) / CAST(n AS DOUBLE))
        |      / (CAST(n AS DOUBLE) - 1) AS swvar FROM pg),
        |sd AS (SELECT t, n, h,
        |    CAST(tsum AS DOUBLE) / CAST(h AS DOUBLE) AS tm,
        |    CASE WHEN h >= 2 THEN swvar * (CAST(n AS DOUBLE) - 1)
        |      / (CAST(h AS DOUBLE) * (CAST(h AS DOUBLE) - 1)) END AS d FROM s)
        |SELECT st.n AS n_treated, sc.n AS n_control,
        |  CAST(st.h AS BIGINT) AS h_treated, CAST(sc.h AS BIGINT) AS h_control,
        |  CAST(CAST(round(st.tm * 1e4) AS BIGINT) AS DOUBLE) / 1e4 AS tmean_treated,
        |  CAST(CAST(round(sc.tm * 1e4) AS BIGINT) AS DOUBLE) / 1e4 AS tmean_control,
        |  CASE WHEN st.d IS NOT NULL AND sc.d IS NOT NULL THEN
        |    CAST(CAST((st.tm - sc.tm) / sqrt(st.d + sc.d) AS DECIMAL(18,9)) AS DOUBLE) END AS t_stat,
        |  CASE WHEN st.d IS NOT NULL AND sc.d IS NOT NULL THEN
        |    CAST(CAST(((st.d + sc.d) * (st.d + sc.d))
        |      / (st.d * st.d / (CAST(st.h AS DOUBLE) - 1) + sc.d * sc.d / (CAST(sc.h AS DOUBLE) - 1))
        |      AS DECIMAL(18,9)) AS DOUBLE) END AS df
        |FROM (SELECT * FROM sd WHERE t = 1) st CROSS JOIN (SELECT * FROM sd WHERE t = 0) sc""".stripMargin,
    "q373_qte" ->
      // nine exact interpolated quantiles per arm in ONE conditional
      // aggregate; cent units; 4 dp quantization before the difference
      """WITH base AS (SELECT CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END AS t,
        |    CAST(round(value * 100) AS BIGINT) AS v FROM events WHERE value IS NOT NULL),
        |a AS (SELECT COUNT(CASE WHEN t = 1 THEN 1 END) AS n_treated,
        |    COUNT(CASE WHEN t = 0 THEN 1 END) AS n_control,
        |    [CAST(quantile_cont(CASE WHEN t = 1 THEN v END, 0.1) AS DECIMAL(18,4)),
        |     CAST(quantile_cont(CASE WHEN t = 1 THEN v END, 0.2) AS DECIMAL(18,4)),
        |     CAST(quantile_cont(CASE WHEN t = 1 THEN v END, 0.3) AS DECIMAL(18,4)),
        |     CAST(quantile_cont(CASE WHEN t = 1 THEN v END, 0.4) AS DECIMAL(18,4)),
        |     CAST(quantile_cont(CASE WHEN t = 1 THEN v END, 0.5) AS DECIMAL(18,4)),
        |     CAST(quantile_cont(CASE WHEN t = 1 THEN v END, 0.6) AS DECIMAL(18,4)),
        |     CAST(quantile_cont(CASE WHEN t = 1 THEN v END, 0.7) AS DECIMAL(18,4)),
        |     CAST(quantile_cont(CASE WHEN t = 1 THEN v END, 0.8) AS DECIMAL(18,4)),
        |     CAST(quantile_cont(CASE WHEN t = 1 THEN v END, 0.9) AS DECIMAL(18,4))] AS qt,
        |    [CAST(quantile_cont(CASE WHEN t = 0 THEN v END, 0.1) AS DECIMAL(18,4)),
        |     CAST(quantile_cont(CASE WHEN t = 0 THEN v END, 0.2) AS DECIMAL(18,4)),
        |     CAST(quantile_cont(CASE WHEN t = 0 THEN v END, 0.3) AS DECIMAL(18,4)),
        |     CAST(quantile_cont(CASE WHEN t = 0 THEN v END, 0.4) AS DECIMAL(18,4)),
        |     CAST(quantile_cont(CASE WHEN t = 0 THEN v END, 0.5) AS DECIMAL(18,4)),
        |     CAST(quantile_cont(CASE WHEN t = 0 THEN v END, 0.6) AS DECIMAL(18,4)),
        |     CAST(quantile_cont(CASE WHEN t = 0 THEN v END, 0.7) AS DECIMAL(18,4)),
        |     CAST(quantile_cont(CASE WHEN t = 0 THEN v END, 0.8) AS DECIMAL(18,4)),
        |     CAST(quantile_cont(CASE WHEN t = 0 THEN v END, 0.9) AS DECIMAL(18,4))] AS qc
        |  FROM base),
        |p AS (SELECT CAST(p AS DOUBLE) AS p, i FROM (VALUES (0.1, 1), (0.2, 2), (0.3, 3),
        |      (0.4, 4), (0.5, 5), (0.6, 6), (0.7, 7), (0.8, 8), (0.9, 9)) t(p, i))
        |SELECT p, CAST(n_treated AS BIGINT) AS n_treated, CAST(n_control AS BIGINT) AS n_control,
        |  CAST(qt[i] AS DOUBLE) AS q_treated, CAST(qc[i] AS DOUBLE) AS q_control,
        |  CAST(qt[i] - qc[i] AS DOUBLE) AS qte
        |FROM a CROSS JOIN p ORDER BY p""".stripMargin,
    "q374_rmst" ->
      // q157's KM lattice verbatim, then exact decimal rectangles
      // S(t)·(min(t',τ)−min(t,τ)) plus the leading min(t₁,τ) strip
      """WITH pu AS (SELECT user_id,
        |        (CAST(floor(epoch(max(ts))) AS BIGINT) -
        |         CAST(floor(epoch(min(ts))) AS BIGINT)) // 86400 AS t,
        |        COUNT(CASE WHEN event_type = 'purchase' THEN 1 END) > 0 AS died
        |      FROM events GROUP BY user_id),
        |pt AS (SELECT t, COUNT(CASE WHEN died THEN 1 END) AS d,
        |              COUNT(CASE WHEN NOT died THEN 1 END) AS c
        |       FROM pu GROUP BY t),
        |tot AS (SELECT CAST(SUM(d + c) AS BIGINT) AS nn FROM pt),
        |cum AS (SELECT t, d, c, SUM(d) OVER (ORDER BY t) AS cum_d,
        |               SUM(c) OVER (ORDER BY t) AS cum_c FROM pt),
        |risk AS (SELECT t, d, nn - (cum_d + cum_c - d - c) AS n_risk
        |         FROM cum, tot WHERE d > 0),
        |lnq AS (SELECT t, n_risk, d,
        |          CASE WHEN d < n_risk THEN CAST(round(ln(CAST(1 AS DOUBLE) -
        |            CAST(d AS DOUBLE) / CAST(n_risk AS DOUBLE)) * 1e9) AS BIGINT)
        |          ELSE 0 END AS q
        |        FROM risk),
        |s AS (SELECT t, n_risk, d, SUM(q) OVER (ORDER BY t) AS cq FROM lnq),
        |km AS (SELECT t, CASE WHEN d < n_risk
        |         THEN CAST(CAST(exp(CAST(cq AS DOUBLE) / 1e9) AS DECIMAL(18,9)) AS DOUBLE)
        |         ELSE CAST(0 AS DOUBLE) END AS survival FROM s),
        |st AS (SELECT t, survival, lead(t) OVER (ORDER BY t) AS lead_t FROM km),
        |terms AS (SELECT t, CAST(CAST(survival AS DECIMAL(18,9)) *
        |    CAST(least(coalesce(lead_t, 120), 120) - least(t, 120) AS DECIMAL(19,0))
        |    AS DECIMAL(38,9)) AS term FROM st)
        |SELECT CAST(120 AS BIGINT) AS tau, COUNT(*) AS n_event_times,
        |  CAST(CAST(CAST(coalesce(least(MIN(t), 120), 120) AS DECIMAL(19,0))
        |    + CAST(coalesce(SUM(term), CAST(0 AS DECIMAL(38,9))) AS DECIMAL(18,9))
        |    AS DECIMAL(18,9)) AS DOUBLE) AS rmst
        |FROM terms""".stripMargin,
    "q375_spiegelhalter" ->
      // q213's (p, y) pairing; each term a short mirrored double chain
      // in integer nano units pre-sum; one division by one sqrt
      """WITH f AS (SELECT CAST(o_orderkey % 1000 AS DOUBLE) / CAST(1000 AS DOUBLE) AS p,
        |    CAST(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS DOUBLE) AS y
        |  FROM orders),
        |g AS (SELECT p, y FROM f WHERE p >= 0 AND p <= 1),
        |a AS (SELECT COUNT(*) AS n,
        |    SUM(CAST(round((y - p) * (1 - 2 * p) * 1e9) AS BIGINT)) AS sn,
        |    SUM(CAST(round((1 - 2 * p) * (1 - 2 * p) * p * (1 - p) * 1e9) AS BIGINT)) AS sd,
        |    SUM(CAST(round((y - p) * (y - p) * 1e9) AS BIGINT)) AS sb
        |  FROM g)
        |SELECT CAST(n AS BIGINT) AS n,
        |  CAST(CAST(round(CAST(sb AS DOUBLE) / 1e9 / CAST(n AS DOUBLE) * 1e9) AS BIGINT) AS DOUBLE) / 1e9 AS brier,
        |  CASE WHEN sd > 0 THEN
        |    CAST(CAST(round(CAST(sn AS DOUBLE) / 1e9 / sqrt(CAST(sd AS DOUBLE) / 1e9) * 1e9) AS BIGINT) AS DOUBLE) / 1e9
        |  END AS z
        |FROM a""".stripMargin,
    "q376_rich_club" ->
      // q299's repeat-graph CTE; mindeg-annotated edges fanned by the
      // 4-row threshold frame; exact counts, one division per k
      """WITH li AS (SELECT DISTINCT l_orderkey AS k, l_partkey AS p FROM lineitem),
        |ew AS (SELECT x.p AS a, y.p AS b, COUNT(*) AS wt
        |       FROM li x JOIN li y ON x.k = y.k AND x.p < y.p GROUP BY 1, 2),
        |e0 AS (SELECT a, b FROM ew WHERE wt >= 2),
        |e AS (SELECT a, b FROM e0 UNION ALL SELECT b, a FROM e0),
        |deg AS (SELECT a AS n, COUNT(*) AS deg FROM e GROUP BY 1),
        |ann AS (SELECT least(d1.deg, d2.deg) AS mindeg
        |        FROM e0 JOIN deg d1 ON e0.a = d1.n JOIN deg d2 ON e0.b = d2.n),
        |ks AS (SELECT CAST(k AS BIGINT) AS k FROM (VALUES (4), (8), (16), (32)) t(k)),
        |ek AS (SELECT k, COUNT(CASE WHEN mindeg > k THEN 1 END) AS e_k
        |       FROM ann CROSS JOIN ks GROUP BY 1),
        |nk AS (SELECT k, COUNT(CASE WHEN deg > k THEN 1 END) AS n_k
        |       FROM deg CROSS JOIN ks GROUP BY 1)
        |SELECT k, CAST(n_k AS BIGINT) AS n_nodes, CAST(e_k AS BIGINT) AS n_edges,
        |  CASE WHEN n_k >= 2 THEN
        |    CAST(CAST((2 * CAST(e_k AS DOUBLE)) / (CAST(n_k AS DOUBLE) * (CAST(n_k AS DOUBLE) - 1))
        |      AS DECIMAL(18,9)) AS DOUBLE) END AS phi
        |FROM nk JOIN ek USING (k) ORDER BY k""".stripMargin,
    "q377_xmr" ->
      // lag moving ranges per series; every level in round(x·1e4)/1e4
      // fixed-point; exceedances by double compare against the limits
      """WITH daily AS (SELECT event_type AS g, CAST(ts AS DATE) AS d, COUNT(*) AS x
        |  FROM events GROUP BY 1, 2),
        |mr AS (SELECT g, abs(x - pv) AS mr FROM
        |    (SELECT g, x, lag(x) OVER (PARTITION BY g ORDER BY d) AS pv FROM daily)
        |  WHERE pv IS NOT NULL),
        |lim0 AS (SELECT dd.g, dd.n_days,
        |    CAST(CAST(round(CAST(dd.sx AS DOUBLE) / CAST(dd.n_days AS DOUBLE) * 1e4) AS BIGINT) AS DOUBLE) / 1e4 AS center,
        |    CAST(CAST(round(CAST(m.smr AS DOUBLE) / CAST(m.nmr AS DOUBLE) * 1e4) AS BIGINT) AS DOUBLE) / 1e4 AS mr_bar
        |  FROM (SELECT g, COUNT(*) AS n_days, SUM(x) AS sx FROM daily GROUP BY 1) dd
        |  LEFT JOIN (SELECT g, COUNT(*) AS nmr, SUM(mr) AS smr FROM mr GROUP BY 1) m USING (g)),
        |lim AS (SELECT *,
        |    CAST(CAST(round((center + 2.66 * mr_bar) * 1e4) AS BIGINT) AS DOUBLE) / 1e4 AS unpl,
        |    CAST(CAST(round((center - 2.66 * mr_bar) * 1e4) AS BIGINT) AS DOUBLE) / 1e4 AS lnpl
        |  FROM lim0)
        |SELECT g AS event_type, CAST(MAX(n_days) AS BIGINT) AS n_days,
        |  MAX(center) AS center, MAX(mr_bar) AS mr_bar, MAX(unpl) AS unpl, MAX(lnpl) AS lnpl,
        |  COUNT(CASE WHEN CAST(x AS DOUBLE) > unpl OR CAST(x AS DOUBLE) < lnpl THEN 1 END) AS n_beyond
        |FROM daily JOIN lim USING (g) GROUP BY 1 ORDER BY 1""".stripMargin,
    "q378_group_sequential" ->
      // exact integer look cuts off the 1-row span frame; densified K×2
      // grid; cumulative scale-0 power sums; mirrored Welch chain; OBF
      // boundary literals (Jennison–Turnbull K=5, two-sided α=.05)
      """WITH base AS (SELECT CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END AS t,
        |    CAST(round(value * 100) AS BIGINT) AS v, epoch_us(ts) AS ts_us
        |  FROM events WHERE value IS NOT NULL),
        |span AS (SELECT MIN(ts_us) AS mn, MAX(ts_us) AS mx FROM base),
        |pl0 AS (SELECT least(5, 1 + ((ts_us - mn) * 5) // (mx - mn + 1)) AS look, t,
        |    COUNT(*) AS n, CAST(SUM(CAST(v AS DECIMAL(19,0))) AS DECIMAL(38,0)) AS sv,
        |    CAST(SUM(CAST(CAST(v AS DECIMAL(19,0)) * CAST(v AS DECIMAL(19,0)) AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS svv
        |  FROM base CROSS JOIN span GROUP BY 1, 2),
        |grid AS (SELECT l.look, tt.t FROM (VALUES (1), (2), (3), (4), (5)) l(look),
        |         (VALUES (0), (1)) tt(t)),
        |pl AS (SELECT g.look, g.t, COALESCE(p.n, 0) AS n,
        |    COALESCE(p.sv, CAST(0 AS DECIMAL(38,0))) AS sv,
        |    COALESCE(p.svv, CAST(0 AS DECIMAL(38,0))) AS svv
        |  FROM grid g LEFT JOIN pl0 p ON p.look = g.look AND p.t = g.t),
        |cum AS (SELECT look, t, SUM(n) OVER w AS cn,
        |    CAST(SUM(sv) OVER w AS DECIMAL(38,0)) AS csv,
        |    CAST(SUM(svv) OVER w AS DECIMAL(38,0)) AS csvv FROM pl
        |  WINDOW w AS (PARTITION BY t ORDER BY look ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |bt AS (SELECT CAST(look AS BIGINT) AS look, CAST(bound AS DOUBLE) AS bound FROM (VALUES
        |    (1, 4.8769), (2, 3.3569), (3, 2.6803), (4, 2.2898), (5, 2.0310)) b(look, bound)),
        |j AS (SELECT tt.look, tt.cn AS n_t, tt.csv AS sv_t, tt.csvv AS svv_t,
        |        cc.cn AS n_c, cc.csv AS sv_c, cc.csvv AS svv_c
        |      FROM (SELECT * FROM cum WHERE t = 1) tt
        |      FULL JOIN (SELECT * FROM cum WHERE t = 0) cc USING (look)),
        |zt AS (SELECT look, n_t, n_c, bound,
        |    CASE WHEN n_t > 1 AND n_c > 1 AND
        |      sqrt(((CAST(svv_t AS DOUBLE) - CAST(sv_t AS DOUBLE) * CAST(sv_t AS DOUBLE) / CAST(n_t AS DOUBLE)) / (CAST(n_t AS DOUBLE) - 1)) / CAST(n_t AS DOUBLE)
        |         + ((CAST(svv_c AS DOUBLE) - CAST(sv_c AS DOUBLE) * CAST(sv_c AS DOUBLE) / CAST(n_c AS DOUBLE)) / (CAST(n_c AS DOUBLE) - 1)) / CAST(n_c AS DOUBLE)) > 0
        |    THEN CAST(CAST(round(
        |      (CAST(sv_t AS DOUBLE) / CAST(n_t AS DOUBLE) - CAST(sv_c AS DOUBLE) / CAST(n_c AS DOUBLE))
        |      / sqrt(((CAST(svv_t AS DOUBLE) - CAST(sv_t AS DOUBLE) * CAST(sv_t AS DOUBLE) / CAST(n_t AS DOUBLE)) / (CAST(n_t AS DOUBLE) - 1)) / CAST(n_t AS DOUBLE)
        |           + ((CAST(svv_c AS DOUBLE) - CAST(sv_c AS DOUBLE) * CAST(sv_c AS DOUBLE) / CAST(n_c AS DOUBLE)) / (CAST(n_c AS DOUBLE) - 1)) / CAST(n_c AS DOUBLE))
        |      * 1e9) AS BIGINT) AS DOUBLE) / 1e9 END AS z
        |  FROM j JOIN bt USING (look))
        |SELECT CAST(look AS BIGINT) AS look, CAST(COALESCE(n_t, 0) AS BIGINT) AS n_treated,
        |  CAST(COALESCE(n_c, 0) AS BIGINT) AS n_control, z, bound,
        |  CASE WHEN z IS NOT NULL THEN (CASE WHEN abs(z) > bound THEN 1 ELSE 0 END)
        |    ELSE 0 END AS crossed
        |FROM zt ORDER BY look""".stripMargin,
    "q379_half_life" ->
      // weibull's nano-ln OLS recipe on days-since-epoch (slope is
      // shift-invariant — no min-date frame); one rounded division
      """WITH daily AS (SELECT event_type AS g, CAST(ts AS DATE) AS d, COUNT(*) AS x
        |  FROM events GROUP BY 1, 2),
        |pts AS (SELECT g, CAST(d - DATE '1970-01-01' AS BIGINT) AS t,
        |    CAST(round(ln(CAST(x AS DOUBLE)) * 1e9) AS BIGINT) AS y FROM daily),
        |f AS (SELECT g, COUNT(*) AS n,
        |    CAST(SUM(CAST(t AS DECIMAL(19,0))) AS DECIMAL(38,0)) AS sx,
        |    CAST(SUM(CAST(y AS DECIMAL(19,0))) AS DECIMAL(38,0)) AS sy,
        |    CAST(SUM(CAST(CAST(t AS DECIMAL(19,0)) * CAST(y AS DECIMAL(19,0)) AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sxy,
        |    CAST(SUM(CAST(CAST(t AS DECIMAL(19,0)) * CAST(t AS DECIMAL(19,0)) AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sxx
        |  FROM pts GROUP BY 1),
        |g2 AS (SELECT g, n,
        |    CAST(CAST(n AS DECIMAL(38,0)) * sxy - CAST(sx * sy AS DECIMAL(38,0)) AS DECIMAL(38,0)) AS num,
        |    CAST(CAST(n AS DECIMAL(38,0)) * sxx - CAST(sx * sx AS DECIMAL(38,0)) AS DECIMAL(38,0)) AS den
        |  FROM f),
        |g3 AS (SELECT g, n, CASE WHEN n >= 2 AND den > 0
        |    THEN CAST(round(CAST(num AS DOUBLE) / CAST(den AS DOUBLE)) AS BIGINT) END AS slope_nano
        |  FROM g2)
        |SELECT g AS event_type, CAST(n AS BIGINT) AS n_days,
        |  CAST(slope_nano AS DOUBLE) / 1e9 AS slope_ln_per_day,
        |  CASE WHEN slope_nano < 0 THEN
        |    CAST(CAST(round(-0.6931471805599453 / (CAST(slope_nano AS DOUBLE) / 1e9) * 1e4) AS BIGINT) AS DOUBLE) / 1e4
        |  END AS half_life_days
        |FROM g3 ORDER BY event_type""".stripMargin,
    "q380_dow_envelope" ->
      // weekday by integer epoch math (engine dayofweek anchors differ);
      // quantile_cont at 4 dp; latest value via max_by on the unique date
      """WITH daily AS (SELECT event_type AS g, CAST(ts AS DATE) AS d, COUNT(*) AS x
        |  FROM events GROUP BY 1, 2),
        |dw AS (SELECT g, d, x, CAST((d - DATE '1970-01-05') % 7 AS INT) AS dow FROM daily),
        |a AS (SELECT g, dow, COUNT(*) AS n_days,
        |    CAST(CAST(quantile_cont(x, 0.1) AS DECIMAL(18,4)) AS DOUBLE) AS p10,
        |    CAST(CAST(quantile_cont(x, 0.5) AS DECIMAL(18,4)) AS DOUBLE) AS p50,
        |    CAST(CAST(quantile_cont(x, 0.9) AS DECIMAL(18,4)) AS DOUBLE) AS p90,
        |    CAST(max_by(x, d) AS BIGINT) AS last_value
        |  FROM dw GROUP BY 1, 2)
        |SELECT g AS event_type, dow, n_days, p10, p50, p90, last_value,
        |  CAST(CAST(last_value AS DOUBLE) > p90 OR CAST(last_value AS DOUBLE) < p10 AS INT) AS beyond
        |FROM a ORDER BY event_type, dow""".stripMargin,
    "q381_token_burstiness" ->
      // Fano = ((Σc² − total²/N)/(N−1)) / (total/N) over exact integer
      // power sums; zeros count via the 1-row corpus-size frame
      """WITH c AS (SELECT doc, tok, COUNT(*) AS c FROM
        |    (SELECT doc_id AS doc, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS tok
        |     FROM documents) GROUP BY 1, 2),
        |nd AS (SELECT COUNT(*) AS nd FROM documents),
        |pt AS (SELECT tok, COUNT(*) AS df_t,
        |    CAST(SUM(CAST(c AS DECIMAL(19,0))) AS DECIMAL(38,0)) AS total,
        |    CAST(SUM(CAST(CAST(c AS DECIMAL(19,0)) * CAST(c AS DECIMAL(19,0)) AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sq
        |  FROM c GROUP BY 1)
        |SELECT tok, CAST(df_t AS BIGINT) AS n_docs_with, CAST(total AS BIGINT) AS total_count,
        |  CAST(CAST(round(CAST(total AS DOUBLE) / CAST(nd AS DOUBLE) * 1e9) AS BIGINT) AS DOUBLE) / 1e9 AS mean_per_doc,
        |  CASE WHEN nd > 1 THEN
        |    CAST(CAST(round(((CAST(sq AS DOUBLE) - CAST(total AS DOUBLE) * CAST(total AS DOUBLE) / CAST(nd AS DOUBLE))
        |      / (CAST(nd AS DOUBLE) - 1)) / (CAST(total AS DOUBLE) / CAST(nd AS DOUBLE)) * 1e9) AS BIGINT) AS DOUBLE) / 1e9
        |  END AS fano
        |FROM pt CROSS JOIN nd ORDER BY total_count DESC, tok LIMIT 30""".stripMargin,
    "q382_strat_ate" ->
      // Cochran subclassification: estimable strata weight n_s/N_est;
      // money chains in round(x·1e4)/1e4; weighted terms pre-rounded
      """WITH base AS (SELECT o_orderpriority AS s,
        |    CASE WHEN o_orderkey % 2 = 0 THEN 1 ELSE 0 END AS t,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS v FROM orders),
        |st AS (SELECT s, COUNT(CASE WHEN t = 1 THEN 1 END) AS n_t,
        |    COUNT(CASE WHEN t = 0 THEN 1 END) AS n_c,
        |    SUM(CASE WHEN t = 1 THEN v END) AS sv_t,
        |    SUM(CASE WHEN t = 0 THEN v END) AS sv_c FROM base GROUP BY 1),
        |w AS (SELECT *, SUM(CASE WHEN n_t > 0 AND n_c > 0 THEN n_t + n_c END) OVER () AS nEst FROM st),
        |det AS (SELECT s AS stratum, CAST(n_t AS BIGINT) AS n_treated, CAST(n_c AS BIGINT) AS n_control,
        |    CASE WHEN n_t > 0 AND n_c > 0 THEN
        |      CAST(CAST(round(CAST(sv_t AS DOUBLE) / CAST(n_t AS DOUBLE) * 1e4) AS BIGINT) AS DOUBLE) / 1e4 END AS mean_treated,
        |    CASE WHEN n_t > 0 AND n_c > 0 THEN
        |      CAST(CAST(round(CAST(sv_c AS DOUBLE) / CAST(n_c AS DOUBLE) * 1e4) AS BIGINT) AS DOUBLE) / 1e4 END AS mean_control,
        |    CASE WHEN n_t > 0 AND n_c > 0 THEN
        |      CAST(CAST(round((CAST(sv_t AS DOUBLE) / CAST(n_t AS DOUBLE)
        |        - CAST(sv_c AS DOUBLE) / CAST(n_c AS DOUBLE)) * 1e4) AS BIGINT) AS DOUBLE) / 1e4 END AS effect,
        |    CASE WHEN n_t > 0 AND n_c > 0 THEN
        |      CAST(CAST(round(CAST(n_t + n_c AS DOUBLE) / CAST(nEst AS DOUBLE) * 1e9) AS BIGINT) AS DOUBLE) / 1e9 END AS weight,
        |    CASE WHEN n_t > 0 AND n_c > 0 THEN
        |      CAST(round(CAST(n_t + n_c AS DOUBLE) / CAST(nEst AS DOUBLE)
        |        * (CAST(sv_t AS DOUBLE) / CAST(n_t AS DOUBLE) - CAST(sv_c AS DOUBLE) / CAST(n_c AS DOUBLE)) * 1e4) AS BIGINT) END AS wterm
        |  FROM w),
        |allr AS (SELECT '__ALL__' AS stratum, CAST(SUM(n_treated) AS BIGINT) AS n_treated,
        |    CAST(SUM(n_control) AS BIGINT) AS n_control,
        |    CAST(NULL AS DOUBLE) AS mean_treated, CAST(NULL AS DOUBLE) AS mean_control,
        |    CAST(SUM(wterm) AS DOUBLE) / 1e4 AS effect, CAST(1.0 AS DOUBLE) AS weight FROM det)
        |SELECT stratum, n_treated, n_control, mean_treated, mean_control, effect, weight FROM
        |  (SELECT stratum, n_treated, n_control, mean_treated, mean_control, effect, weight FROM det
        |   UNION ALL SELECT * FROM allr)
        |ORDER BY stratum""".stripMargin,
    "q383_qini" ->
      // global ranks by (score desc, id); deciles by exact integer math
      // off the count frame; 10-row cumulative window; fixed-point reads
      """WITH users AS (SELECT user_id AS id,
        |    CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END AS t,
        |    CASE WHEN COUNT(CASE WHEN event_type = 'purchase' THEN 1 END) > 0 THEN 1 ELSE 0 END AS y,
        |    -CAST(COUNT(CASE WHEN event_type = 'view' THEN 1 END) AS DOUBLE) AS negscore
        |  FROM events GROUP BY user_id),
        |r AS (SELECT *, row_number() OVER (ORDER BY negscore, id) AS rk,
        |        COUNT(*) OVER () AS n FROM users),
        |pd AS (SELECT least(9, ((rk - 1) * 10) // n) AS dec,
        |    COUNT(CASE WHEN t = 1 THEN 1 END) AS n_t, COUNT(CASE WHEN t = 0 THEN 1 END) AS n_c,
        |    COUNT(CASE WHEN t = 1 AND y = 1 THEN 1 END) AS y_t,
        |    COUNT(CASE WHEN t = 0 AND y = 1 THEN 1 END) AS y_c
        |  FROM r GROUP BY 1),
        |cm AS (SELECT dec, SUM(n_t) OVER w AS cn_t, SUM(n_c) OVER w AS cn_c,
        |    SUM(y_t) OVER w AS cy_t, SUM(y_c) OVER w AS cy_c FROM pd
        |  WINDOW w AS (ORDER BY dec ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
        |SELECT CAST(dec AS INT) AS decile,
        |  CAST(cn_t AS BIGINT) AS cum_n_treated, CAST(cn_c AS BIGINT) AS cum_n_control,
        |  CAST(cy_t AS BIGINT) AS cum_y_treated, CAST(cy_c AS BIGINT) AS cum_y_control,
        |  CASE WHEN cn_c > 0 AND cn_t > 0 THEN
        |    CAST(CAST(round((CAST(cy_t AS DOUBLE) - CAST(cy_c AS DOUBLE)
        |      * (CAST(cn_t AS DOUBLE) / CAST(cn_c AS DOUBLE))) * 1e4) AS BIGINT) AS DOUBLE) / 1e4 END AS qini,
        |  CASE WHEN cn_c > 0 AND cn_t > 0 THEN
        |    CAST(CAST(round((CAST(cy_t AS DOUBLE) / CAST(cn_t AS DOUBLE)
        |      - CAST(cy_c AS DOUBLE) / CAST(cn_c AS DOUBLE)) * 1e9) AS BIGINT) AS DOUBLE) / 1e9 END AS uplift
        |FROM cm ORDER BY decile""".stripMargin,
    "q384_by_fdr" ->
      // q256's p-values; c(m) = Σ(1e9 // i) exact integers; display q a
      // mirrored nano chain, rejection the exact decimal product test
      """WITH counts AS (SELECT c_nationkey AS key, count(*) AS n_k FROM customer GROUP BY 1),
        |tot AS (SELECT SUM(n_k) AS n_total, COUNT(*) AS m FROM counts),
        |pv AS (SELECT key, CAST(exp(
        |    ((CAST(n_k AS DOUBLE) - CAST(n_total AS DOUBLE) / CAST(m AS DOUBLE))
        |      * (CAST(n_k AS DOUBLE) - CAST(n_total AS DOUBLE) / CAST(m AS DOUBLE))
        |      / ((CAST(n_total AS DOUBLE) / CAST(m AS DOUBLE)) * (1 - 1 / CAST(m AS DOUBLE)))) * -0.5)
        |    AS DECIMAL(18,9)) AS p, m
        |  FROM counts CROSS JOIN tot),
        |b AS (SELECT key, p, m, row_number() OVER (ORDER BY p, key) AS rnk FROM pv),
        |b2 AS (SELECT *, CAST(round(CAST(p AS DOUBLE) * 1e9) AS BIGINT) AS pn,
        |        SUM(1000000000 // rnk) OVER () AS cn FROM b),
        |q AS (SELECT key, p, rnk,
        |    min(least(1000000000, CAST(round(CAST(pn AS DOUBLE) / 1e9 * m * (CAST(cn AS DOUBLE) / 1e9) / rnk * 1e9) AS BIGINT)))
        |      OVER (ORDER BY p DESC, key DESC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS qn
        |  FROM b2),
        |istar AS (SELECT COALESCE(MAX(CASE WHEN CAST(pn AS DECIMAL(38,0)) * m * cn <=
        |    CAST(50000000 AS DECIMAL(38,0)) * rnk * 1000000000 THEN rnk END), 0) AS i_star FROM b2)
        |SELECT key, CAST(p AS DOUBLE) AS p, CAST(rnk AS BIGINT) AS rnk,
        |  CAST(qn AS DOUBLE) / 1e9 AS q,
        |  CASE WHEN rnk <= i_star THEN 1 ELSE 0 END AS rejected
        |FROM q CROSS JOIN istar ORDER BY rnk""".stripMargin,
    "q385_scd2" ->
      // collapse unchanged re-offers, then lead/row_number per key;
      // timestamps leave as exact integer micros
      """WITH e AS (SELECT user_id AS k, epoch_us(ts) AS ts_us, event_id AS sq,
        |    CAST(event_type AS VARCHAR) AS v FROM events),
        |f AS (SELECT * FROM (SELECT k, ts_us, sq, v,
        |        lag(v) OVER (PARTITION BY k ORDER BY ts_us, sq) AS pv FROM e)
        |      WHERE pv IS NULL OR pv <> v),
        |g AS (SELECT k, v, ts_us,
        |        lead(ts_us) OVER (PARTITION BY k ORDER BY ts_us, sq) AS eff_to,
        |        row_number() OVER (PARTITION BY k ORDER BY ts_us, sq) AS version FROM f)
        |SELECT k AS user_id, v AS value, CAST(version AS INT) AS version,
        |  ts_us AS eff_from_us, eff_to AS eff_to_us,
        |  CAST(eff_to IS NULL AS INT) AS is_current
        |FROM g ORDER BY user_id, version""".stripMargin,
    "q386_deming" ->
      // centered moments from exact scale-0 sums; β and intercept one
      // mirrored chain each (sqrt only); nano / 1e4 fixed-point
      """WITH b AS (SELECT CAST(l_quantity AS BIGINT) AS x,
        |    CAST(round(l_extendedprice * 100) AS BIGINT) AS y FROM lineitem),
        |a AS (SELECT COUNT(*) AS n,
        |    CAST(SUM(CAST(x AS DECIMAL(19,0))) AS DECIMAL(38,0)) AS sx,
        |    CAST(SUM(CAST(y AS DECIMAL(19,0))) AS DECIMAL(38,0)) AS sy,
        |    CAST(SUM(CAST(CAST(x AS DECIMAL(19,0)) * CAST(x AS DECIMAL(19,0)) AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sxx,
        |    CAST(SUM(CAST(CAST(y AS DECIMAL(19,0)) * CAST(y AS DECIMAL(19,0)) AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS syy,
        |    CAST(SUM(CAST(CAST(x AS DECIMAL(19,0)) * CAST(y AS DECIMAL(19,0)) AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sxy
        |  FROM b),
        |m AS (SELECT n,
        |    CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) AS mxx,
        |    CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) / CAST(n AS DOUBLE) AS myy,
        |    CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) / CAST(n AS DOUBLE) AS mxy,
        |    CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) AS mx,
        |    CAST(sy AS DOUBLE) / CAST(n AS DOUBLE) AS my
        |  FROM a),
        |s AS (SELECT n, mxy, mx, my,
        |    (myy - mxx + sqrt((myy - mxx) * (myy - mxx) + 4 * mxy * mxy)) / (2 * mxy) AS beta
        |  FROM m)
        |SELECT CAST(n AS BIGINT) AS n,
        |  CASE WHEN n >= 2 AND mxy <> 0 THEN
        |    CAST(CAST(round(beta * 1e9) AS BIGINT) AS DOUBLE) / 1e9 END AS slope,
        |  CASE WHEN n >= 2 AND mxy <> 0 THEN
        |    CAST(CAST(round((my - beta * mx) * 1e4) AS BIGINT) AS DOUBLE) / 1e4 END AS intercept
        |FROM s""".stripMargin,
    "q387_abc" ->
      // rank desc by value, exact integer class boundaries
      // (cum·5 ≤ g·4, cum·20 ≤ g·19); share in nano fixed-point
      """WITH pk AS (SELECT l_partkey AS k,
        |    SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) AS units FROM lineitem GROUP BY 1),
        |c AS (SELECT k, units, SUM(units) OVER (ORDER BY -units, k
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_units FROM pk),
        |g AS (SELECT MAX(cum_units) AS g FROM c),
        |cl AS (SELECT CASE WHEN cum_units * 5 <= g * 4 THEN 'A'
        |         WHEN cum_units * 20 <= g * 19 THEN 'B' ELSE 'C' END AS abc_class,
        |       units, g FROM c CROSS JOIN g)
        |SELECT abc_class, COUNT(*) AS n_keys, CAST(SUM(units) AS BIGINT) AS units_total,
        |  CAST(CAST(round(CAST(SUM(units) AS DOUBLE) / CAST(MAX(g) AS DOUBLE) * 1e9) AS BIGINT) AS DOUBLE) / 1e9 AS value_share
        |FROM cl GROUP BY 1 ORDER BY 1""".stripMargin,
    "q388_seasonal_strength" ->
      // q232's exact micro decomposition, then Wang–Hyndman strengths
      // from scale-0 integer power sums; nano fixed-point, clamped at 0
      """WITH daily AS (SELECT date_trunc('day', ts) AS day, count(*) AS n FROM events GROUP BY 1),
        |t AS (SELECT day, n,
        |        CASE WHEN count(*) OVER w = 7
        |          THEN CAST(round(sum(n) OVER w * 1000000.0 / 7.0) AS BIGINT) END AS trend_micro,
        |        CAST(datediff('day', DATE '1970-01-01', CAST(day AS DATE)) % 7 AS BIGINT) AS dow
        |      FROM daily WINDOW w AS (ORDER BY day ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
        |t2 AS (SELECT day, n, dow, trend_micro, n * 1000000 - trend_micro AS detr_micro FROM t),
        |dm AS (SELECT dow, CAST(round(CAST(sum(detr_micro) AS DOUBLE) / count(*)) AS BIGINT) AS raw_micro
        |       FROM t2 WHERE detr_micro IS NOT NULL GROUP BY dow),
        |cc AS (SELECT CAST(round(CAST(sum(raw_micro) AS DOUBLE) / count(*)) AS BIGINT) AS c_micro FROM dm),
        |seas AS (SELECT dow, raw_micro - c_micro AS seas_micro FROM dm CROSS JOIN cc),
        |comp AS (SELECT n * 1000000 - trend_micro - seas_micro AS r,
        |    seas_micro + (n * 1000000 - trend_micro - seas_micro) AS sr,
        |    trend_micro + (n * 1000000 - trend_micro - seas_micro) AS tr
        |  FROM t2 JOIN seas USING (dow) WHERE trend_micro IS NOT NULL),
        |f AS (SELECT COUNT(*) AS n,
        |    CAST(SUM(CAST(r AS DECIMAL(19,0))) AS DECIMAL(38,0)) AS s_r,
        |    CAST(SUM(CAST(CAST(r AS DECIMAL(19,0)) * CAST(r AS DECIMAL(19,0)) AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS ss_r,
        |    CAST(SUM(CAST(sr AS DECIMAL(19,0))) AS DECIMAL(38,0)) AS s_sr,
        |    CAST(SUM(CAST(CAST(sr AS DECIMAL(19,0)) * CAST(sr AS DECIMAL(19,0)) AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS ss_sr,
        |    CAST(SUM(CAST(tr AS DECIMAL(19,0))) AS DECIMAL(38,0)) AS s_tr,
        |    CAST(SUM(CAST(CAST(tr AS DECIMAL(19,0)) * CAST(tr AS DECIMAL(19,0)) AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS ss_tr
        |  FROM comp),
        |v AS (SELECT n,
        |    CAST(ss_r AS DOUBLE) - CAST(s_r AS DOUBLE) * CAST(s_r AS DOUBLE) / CAST(n AS DOUBLE) AS vr,
        |    CAST(ss_sr AS DOUBLE) - CAST(s_sr AS DOUBLE) * CAST(s_sr AS DOUBLE) / CAST(n AS DOUBLE) AS vsr,
        |    CAST(ss_tr AS DOUBLE) - CAST(s_tr AS DOUBLE) * CAST(s_tr AS DOUBLE) / CAST(n AS DOUBLE) AS vtr
        |  FROM f)
        |SELECT CAST(n AS BIGINT) AS n_days,
        |  CASE WHEN n >= 2 AND vtr > 0 THEN
        |    CAST(CAST(round(greatest(0, 1 - vr / vtr) * 1e9) AS BIGINT) AS DOUBLE) / 1e9 END AS strength_trend,
        |  CASE WHEN n >= 2 AND vsr > 0 THEN
        |    CAST(CAST(round(greatest(0, 1 - vr / vsr) * 1e9) AS BIGINT) AS DOUBLE) / 1e9 END AS strength_seasonal
        |FROM v""".stripMargin,
    "q389_bland_altman" ->
      // integer-cent diffs; bias/limits round(x·1e4) fixed-point; the
      // exceedance pass crosses the 1-row stats frame back over pairs
      """WITH ls AS (SELECT l_orderkey, SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) AS line_cents
        |  FROM lineitem GROUP BY 1),
        |p AS (SELECT CAST(round(o_totalprice * 100) AS BIGINT) - line_cents AS dd
        |      FROM orders JOIN ls ON o_orderkey = l_orderkey),
        |st AS (SELECT COUNT(*) AS n,
        |    CAST(SUM(CAST(dd AS DECIMAL(19,0))) AS DECIMAL(38,0)) AS sd1,
        |    CAST(SUM(CAST(CAST(dd AS DECIMAL(19,0)) * CAST(dd AS DECIMAL(19,0)) AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sd2
        |  FROM p),
        |lm AS (SELECT n,
        |    CAST(CAST(round(CAST(sd1 AS DOUBLE) / CAST(n AS DOUBLE) * 1e4) AS BIGINT) AS DOUBLE) / 1e4 AS bias,
        |    CASE WHEN n >= 2 THEN CAST(CAST(round(sqrt((CAST(sd2 AS DOUBLE)
        |      - CAST(sd1 AS DOUBLE) * CAST(sd1 AS DOUBLE) / CAST(n AS DOUBLE)) / (CAST(n AS DOUBLE) - 1)) * 1e4) AS BIGINT) AS DOUBLE) / 1e4 END AS sd_diff,
        |    CASE WHEN n >= 2 THEN CAST(CAST(round((CAST(sd1 AS DOUBLE) / CAST(n AS DOUBLE)
        |      - 1.959963985 * sqrt((CAST(sd2 AS DOUBLE) - CAST(sd1 AS DOUBLE) * CAST(sd1 AS DOUBLE) / CAST(n AS DOUBLE)) / (CAST(n AS DOUBLE) - 1))) * 1e4) AS BIGINT) AS DOUBLE) / 1e4 END AS loa_lo,
        |    CASE WHEN n >= 2 THEN CAST(CAST(round((CAST(sd1 AS DOUBLE) / CAST(n AS DOUBLE)
        |      + 1.959963985 * sqrt((CAST(sd2 AS DOUBLE) - CAST(sd1 AS DOUBLE) * CAST(sd1 AS DOUBLE) / CAST(n AS DOUBLE)) / (CAST(n AS DOUBLE) - 1))) * 1e4) AS BIGINT) AS DOUBLE) / 1e4 END AS loa_hi
        |  FROM st)
        |SELECT CAST(n AS BIGINT) AS n_pairs, bias, sd_diff, loa_lo, loa_hi,
        |  COUNT(CASE WHEN CAST(dd AS DOUBLE) < loa_lo OR CAST(dd AS DOUBLE) > loa_hi THEN 1 END) AS n_outside
        |FROM p CROSS JOIN lm GROUP BY n, bias, sd_diff, loa_lo, loa_hi""".stripMargin,
    "q390_chao1" ->
      // frequency-spectrum fold: Chao1 = D + f1(f1-1)/(2(f2+1)) and
      // Good–Turing unseen mass f1/N; exact counts, fixed-point reads
      """WITH c AS (SELECT tok, COUNT(*) AS c FROM
        |    (SELECT unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS tok FROM documents)
        |  GROUP BY 1)
        |SELECT CAST(COALESCE(SUM(c), 0) AS BIGINT) AS n_tokens, COUNT(*) AS n_distinct,
        |  COUNT(CASE WHEN c = 1 THEN 1 END) AS f1, COUNT(CASE WHEN c = 2 THEN 1 END) AS f2,
        |  CASE WHEN COUNT(*) > 0 THEN
        |    CAST(CAST(round((CAST(COUNT(*) AS DOUBLE)
        |      + CAST(COUNT(CASE WHEN c = 1 THEN 1 END) * (COUNT(CASE WHEN c = 1 THEN 1 END) - 1) AS DOUBLE)
        |        / (2 * (CAST(COUNT(CASE WHEN c = 2 THEN 1 END) AS DOUBLE) + 1))) * 1e4) AS BIGINT) AS DOUBLE) / 1e4
        |  END AS chao1,
        |  CASE WHEN COALESCE(SUM(c), 0) > 0 THEN
        |    CAST(CAST(round(CAST(COUNT(CASE WHEN c = 1 THEN 1 END) AS DOUBLE)
        |      / CAST(SUM(c) AS DOUBLE) * 1e9) AS BIGINT) AS DOUBLE) / 1e9
        |  END AS gt_unseen_mass
        |FROM c""".stripMargin,
    "q391_wilson" ->
      // z² as the same literal product both sides; center/half mirrored
      // double chains, nano fixed-point, clamped to [0,1]
      """WITH a AS (SELECT CAST(o_orderpriority AS VARCHAR) AS g, COUNT(*) AS n,
        |    COUNT(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS k FROM orders GROUP BY 1)
        |SELECT g AS o_orderpriority, CAST(n AS BIGINT) AS n, CAST(k AS BIGINT) AS k,
        |  CAST(CAST(round(CAST(k AS DOUBLE) / CAST(n AS DOUBLE) * 1e9) AS BIGINT) AS DOUBLE) / 1e9 AS rate,
        |  CAST(CAST(round(greatest(0, (CAST(k AS DOUBLE) / CAST(n AS DOUBLE)
        |      + (1.959963985 * 1.959963985) / (2 * CAST(n AS DOUBLE))) / (1 + (1.959963985 * 1.959963985) / CAST(n AS DOUBLE))
        |    - 1.959963985 * sqrt(CAST(k AS DOUBLE) / CAST(n AS DOUBLE) * (1 - CAST(k AS DOUBLE) / CAST(n AS DOUBLE)) / CAST(n AS DOUBLE)
        |        + (1.959963985 * 1.959963985) / (4 * CAST(n AS DOUBLE) * CAST(n AS DOUBLE)))
        |      / (1 + (1.959963985 * 1.959963985) / CAST(n AS DOUBLE))) * 1e9) AS BIGINT) AS DOUBLE) / 1e9 AS ci_lo,
        |  CAST(CAST(round(least(1, (CAST(k AS DOUBLE) / CAST(n AS DOUBLE)
        |      + (1.959963985 * 1.959963985) / (2 * CAST(n AS DOUBLE))) / (1 + (1.959963985 * 1.959963985) / CAST(n AS DOUBLE))
        |    + 1.959963985 * sqrt(CAST(k AS DOUBLE) / CAST(n AS DOUBLE) * (1 - CAST(k AS DOUBLE) / CAST(n AS DOUBLE)) / CAST(n AS DOUBLE)
        |        + (1.959963985 * 1.959963985) / (4 * CAST(n AS DOUBLE) * CAST(n AS DOUBLE)))
        |      / (1 + (1.959963985 * 1.959963985) / CAST(n AS DOUBLE))) * 1e9) AS BIGINT) AS DOUBLE) / 1e9 AS ci_hi
        |FROM a ORDER BY o_orderpriority""".stripMargin,
    "q392_ratio_metric" ->
      // per-user units, five power sums per arm in one pass, the
      // delta-method Var(R) chain mirrored double-for-double
      """WITH u AS (SELECT user_id,
        |    COALESCE(SUM(CASE WHEN event_type = 'purchase' THEN CAST(round(value * 100) AS BIGINT) END), 0) AS x,
        |    COUNT(CASE WHEN event_type = 'view' THEN 1 END) AS y
        |  FROM events GROUP BY 1),
        |b AS (SELECT CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END AS t, x, y FROM u),
        |pa AS (SELECT t, COUNT(*) AS n,
        |    CAST(SUM(CAST(x AS DECIMAL(19,0))) AS DECIMAL(38,0)) AS sx,
        |    CAST(SUM(CAST(y AS DECIMAL(19,0))) AS DECIMAL(38,0)) AS sy,
        |    CAST(SUM(CAST(CAST(x AS DECIMAL(19,0)) * CAST(x AS DECIMAL(19,0)) AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sxx,
        |    CAST(SUM(CAST(CAST(y AS DECIMAL(19,0)) * CAST(y AS DECIMAL(19,0)) AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS syy,
        |    CAST(SUM(CAST(CAST(x AS DECIMAL(19,0)) * CAST(y AS DECIMAL(19,0)) AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sxy
        |  FROM b GROUP BY 1),
        |j AS (SELECT tt.n AS n_t, tt.sx AS sx_t, tt.sy AS sy_t, tt.sxx AS sxx_t, tt.syy AS syy_t, tt.sxy AS sxy_t,
        |        cc.n AS n_c, cc.sx AS sx_c, cc.sy AS sy_c, cc.sxx AS sxx_c, cc.syy AS syy_c, cc.sxy AS sxy_c
        |      FROM (SELECT * FROM pa WHERE t = 1) tt CROSS JOIN (SELECT * FROM pa WHERE t = 0) cc),
        |r AS (SELECT n_t, n_c, sy_t, sy_c,
        |    CAST(sx_t AS DOUBLE) / CAST(sy_t AS DOUBLE) AS rt,
        |    CAST(sx_c AS DOUBLE) / CAST(sy_c AS DOUBLE) AS rc,
        |    ((CAST(sxx_t AS DOUBLE) - CAST(sx_t AS DOUBLE) * CAST(sx_t AS DOUBLE) / CAST(n_t AS DOUBLE)) / (CAST(n_t AS DOUBLE) - 1)
        |      + (CAST(sx_t AS DOUBLE) / CAST(sy_t AS DOUBLE)) * (CAST(sx_t AS DOUBLE) / CAST(sy_t AS DOUBLE))
        |        * ((CAST(syy_t AS DOUBLE) - CAST(sy_t AS DOUBLE) * CAST(sy_t AS DOUBLE) / CAST(n_t AS DOUBLE)) / (CAST(n_t AS DOUBLE) - 1))
        |      - 2 * (CAST(sx_t AS DOUBLE) / CAST(sy_t AS DOUBLE))
        |        * ((CAST(sxy_t AS DOUBLE) - CAST(sx_t AS DOUBLE) * CAST(sy_t AS DOUBLE) / CAST(n_t AS DOUBLE)) / (CAST(n_t AS DOUBLE) - 1)))
        |      / (CAST(n_t AS DOUBLE) * (CAST(sy_t AS DOUBLE) / CAST(n_t AS DOUBLE)) * (CAST(sy_t AS DOUBLE) / CAST(n_t AS DOUBLE))) AS vrt,
        |    ((CAST(sxx_c AS DOUBLE) - CAST(sx_c AS DOUBLE) * CAST(sx_c AS DOUBLE) / CAST(n_c AS DOUBLE)) / (CAST(n_c AS DOUBLE) - 1)
        |      + (CAST(sx_c AS DOUBLE) / CAST(sy_c AS DOUBLE)) * (CAST(sx_c AS DOUBLE) / CAST(sy_c AS DOUBLE))
        |        * ((CAST(syy_c AS DOUBLE) - CAST(sy_c AS DOUBLE) * CAST(sy_c AS DOUBLE) / CAST(n_c AS DOUBLE)) / (CAST(n_c AS DOUBLE) - 1))
        |      - 2 * (CAST(sx_c AS DOUBLE) / CAST(sy_c AS DOUBLE))
        |        * ((CAST(sxy_c AS DOUBLE) - CAST(sx_c AS DOUBLE) * CAST(sy_c AS DOUBLE) / CAST(n_c AS DOUBLE)) / (CAST(n_c AS DOUBLE) - 1)))
        |      / (CAST(n_c AS DOUBLE) * (CAST(sy_c AS DOUBLE) / CAST(n_c AS DOUBLE)) * (CAST(sy_c AS DOUBLE) / CAST(n_c AS DOUBLE))) AS vrc
        |  FROM j)
        |SELECT CAST(n_t AS BIGINT) AS n_treated, CAST(n_c AS BIGINT) AS n_control,
        |  CASE WHEN sy_t > 0 THEN CAST(CAST(round(rt * 1e9) AS BIGINT) AS DOUBLE) / 1e9 END AS ratio_treated,
        |  CASE WHEN sy_c > 0 THEN CAST(CAST(round(rc * 1e9) AS BIGINT) AS DOUBLE) / 1e9 END AS ratio_control,
        |  CASE WHEN n_t > 1 AND sy_t > 0 AND n_c > 1 AND sy_c > 0 THEN
        |    CAST(CAST(round((rt - rc) * 1e9) AS BIGINT) AS DOUBLE) / 1e9 END AS diff,
        |  CASE WHEN n_t > 1 AND sy_t > 0 AND n_c > 1 AND sy_c > 0 AND (vrt + vrc) > 0 THEN
        |    CAST(CAST(round((rt - rc) / sqrt(vrt + vrc) * 1e9) AS BIGINT) AS DOUBLE) / 1e9 END AS z
        |FROM r""".stripMargin,
    "q353_lsh_calibration" ->
      // identical repeated-squaring product chains both sides — no pow
      """WITH g AS (SELECT CAST(k AS DOUBLE) / 20 AS s FROM generate_series(1, 19) AS t(k)),
        |a AS (SELECT s, (s * s) * (s * s) AS s4 FROM g),
        |b AS (SELECT s, 1 - s4 AS u FROM a),
        |c1 AS (SELECT s, u * u AS u2 FROM b),
        |c2 AS (SELECT s, u2 * u2 AS u4 FROM c1),
        |c3 AS (SELECT s, u4 * u4 AS u8 FROM c2),
        |c4 AS (SELECT s, u8 * u8 AS u16 FROM c3),
        |c5 AS (SELECT s, u16 * u16 AS u32 FROM c4),
        |p AS (SELECT s, CAST(CAST(1 - u32 AS DECIMAL(18,9)) AS DOUBLE) AS p_candidate FROM c5)
        |SELECT s, p_candidate,
        |  CASE WHEN p_candidate >= 0.5 THEN 1 ELSE 0 END AS candidate_at_threshold
        |FROM p ORDER BY s""".stripMargin,
    "q354_percentile_ci" ->
      // order-statistic CI ranks from the 1-row count frame; rank
      // arithmetic on exact integer-derived doubles, floor/ceil mirrored
      """WITH v AS (SELECT CAST(l_extendedprice AS DECIMAL(18,2)) AS v FROM lineitem),
        |r AS (SELECT v, row_number() OVER (ORDER BY v) AS rk FROM v),
        |nn AS (SELECT COUNT(*) AS n FROM v),
        |k AS (SELECT n,
        |    greatest(1, CAST(floor(CAST(n AS DOUBLE) * 0.5
        |      - 1.959963985 * sqrt(CAST(n AS DOUBLE) * 0.5 * (1 - 0.5))) AS BIGINT)) AS rk_lo,
        |    least(n, greatest(1, CAST(ceil(CAST(n AS DOUBLE) * 0.5) AS BIGINT))) AS rk_pt,
        |    least(n, CAST(ceil(CAST(n AS DOUBLE) * 0.5
        |      + 1.959963985 * sqrt(CAST(n AS DOUBLE) * 0.5 * (1 - 0.5))) + 1 AS BIGINT)) AS rk_hi
        |  FROM nn)
        |SELECT CAST(n AS BIGINT) AS n, CAST(0.5 AS DOUBLE) AS p,
        |  CAST(MIN(CASE WHEN rk = rk_lo THEN v END) AS DOUBLE) AS ci_lo,
        |  CAST(MIN(CASE WHEN rk = rk_pt THEN v END) AS DOUBLE) AS point,
        |  CAST(MIN(CASE WHEN rk = rk_hi THEN v END) AS DOUBLE) AS ci_hi
        |FROM r, k WHERE rk IN (rk_lo, rk_pt, rk_hi) GROUP BY n""".stripMargin,
    "q355_ridge2" ->
      // exact power sums; centered scatter + 2x2 inverse + beta/intercept
      // chains mirrored double-for-double, 9 dp
      """WITH b AS (SELECT CAST(l_quantity AS DECIMAL(18,4)) AS x1,
        |        CAST(l_discount AS DECIMAL(18,4)) AS x2,
        |        CAST(l_extendedprice AS DECIMAL(18,2)) AS y FROM lineitem),
        |agg AS (SELECT COUNT(*) AS n,
        |    CAST(SUM(x1) AS DECIMAL(38,4)) AS s1, CAST(SUM(x2) AS DECIMAL(38,4)) AS s2,
        |    CAST(SUM(y) AS DECIMAL(38,2)) AS sy,
        |    CAST(SUM(CAST(x1 * x1 AS DECIMAL(38,8))) AS DECIMAL(38,8)) AS s11,
        |    CAST(SUM(CAST(x2 * x2 AS DECIMAL(38,8))) AS DECIMAL(38,8)) AS s22,
        |    CAST(SUM(CAST(x1 * x2 AS DECIMAL(38,8))) AS DECIMAL(38,8)) AS s12,
        |    CAST(SUM(CAST(x1 * y AS DECIMAL(38,6))) AS DECIMAL(38,6)) AS s1y,
        |    CAST(SUM(CAST(x2 * y AS DECIMAL(38,6))) AS DECIMAL(38,6)) AS s2y
        |  FROM b),
        |ch AS (SELECT n,
        |    CAST(s11 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE) + 10.0 AS a11,
        |    CAST(s22 AS DOUBLE) - CAST(s2 AS DOUBLE) * CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE) + 10.0 AS a22,
        |    CAST(s12 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE) AS a12,
        |    CAST(s1y AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(sy AS DOUBLE) / CAST(n AS DOUBLE) AS c1y,
        |    CAST(s2y AS DOUBLE) - CAST(s2 AS DOUBLE) * CAST(sy AS DOUBLE) / CAST(n AS DOUBLE) AS c2y,
        |    s1, s2, sy FROM agg),
        |f AS (SELECT n, s1, s2, sy, a11, a22, a12, c1y, c2y,
        |    a11 * a22 - a12 * a12 AS det FROM ch),
        |f2 AS (SELECT n, s1, s2, sy, det,
        |    (a22 * c1y - a12 * c2y) / det AS b1,
        |    (a11 * c2y - a12 * c1y) / det AS b2 FROM f)
        |SELECT CAST(n AS BIGINT) AS n, CAST(10.0 AS DOUBLE) AS lambda,
        |  CASE WHEN n >= 3 AND det <> 0 THEN CAST(CAST(b1 AS DECIMAL(18,9)) AS DOUBLE) END AS beta1,
        |  CASE WHEN n >= 3 AND det <> 0 THEN CAST(CAST(b2 AS DECIMAL(18,9)) AS DOUBLE) END AS beta2,
        |  CASE WHEN n >= 3 AND det <> 0 THEN CAST(CAST(
        |    CAST(sy AS DOUBLE) / CAST(n AS DOUBLE) - b1 * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
        |      - b2 * (CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE))
        |    AS DECIMAL(18,9)) AS DOUBLE) END AS intercept
        |FROM f2""".stripMargin,
    "q350_count_min" ->
      // q287's portable md5-hex hash places keys in identical counters;
      // cells = one depth-fan aggregate, probe estimate = min over rows
      """WITH ks AS (SELECT CAST(o_custkey AS VARCHAR) AS k FROM orders),
        |rs AS (SELECT CAST(r AS INT) AS r FROM generate_series(0, 3) AS t(r)),
        |cells AS (SELECT r,
        |    CAST('0x' || substring(md5('cms' || CAST(r AS VARCHAR) || ':' || k), 1, 8) AS BIGINT) % 64 AS c,
        |    COUNT(*) AS n
        |  FROM ks, rs GROUP BY 1, 2),
        |pv AS (SELECT p AS probe FROM (VALUES ('1'), ('7'), ('19'), ('42'),
        |          ('100'), ('250'), ('500'), ('1000')) AS v(p)),
        |pr AS (SELECT probe, r,
        |    CAST('0x' || substring(md5('cms' || CAST(r AS VARCHAR) || ':' || probe), 1, 8) AS BIGINT) % 64 AS c
        |  FROM pv, rs),
        |est AS (SELECT probe, MIN(COALESCE(n, 0)) AS cms_estimate
        |  FROM pr LEFT JOIN cells USING (r, c) GROUP BY probe),
        |ex AS (SELECT k AS probe, COUNT(*) AS exact FROM ks
        |       WHERE k IN ('1', '7', '19', '42', '100', '250', '500', '1000')
        |       GROUP BY k)
        |SELECT probe, CAST(COALESCE(exact, 0) AS BIGINT) AS exact,
        |  CAST(cms_estimate AS BIGINT) AS cms_estimate
        |FROM est LEFT JOIN ex USING (probe) ORDER BY probe""".stripMargin,
    "q351_rdd" ->
      // both sides' OLS folds in integer micro/cent units (scale-0 —
      // rounding impossible); slopes re-scaled by the exact 1e4 factor
      """WITH per AS (SELECT o_custkey, COUNT(*) AS n_orders FROM orders GROUP BY o_custkey),
        |c AS (SELECT c_acctbal, COALESCE(n_orders, 0) AS n_orders
        |      FROM customer LEFT JOIN per ON c_custkey = o_custkey),
        |b AS (SELECT CAST(c_acctbal AS DOUBLE) - 0.0 >= 0 AS rt,
        |        CAST(round((CAST(c_acctbal AS DOUBLE) - 0.0) * 1e6) AS BIGINT) AS x,
        |        CAST(CAST(CAST(n_orders AS DECIMAL(18,2)) * 100 AS DECIMAL(28,0)) AS BIGINT) AS y
        |      FROM c WHERE abs(CAST(c_acctbal AS DOUBLE) - 0.0) <= 5000.0),
        |agg AS (SELECT
        |    CAST(COUNT(CASE WHEN NOT rt THEN 1 END) AS HUGEINT) AS nl,
        |    CAST(COUNT(CASE WHEN rt THEN 1 END) AS HUGEINT) AS nr,
        |    CAST(SUM(CASE WHEN NOT rt THEN CAST(x AS HUGEINT) END) AS HUGEINT) AS sxl,
        |    CAST(SUM(CASE WHEN NOT rt THEN CAST(y AS HUGEINT) END) AS HUGEINT) AS syl,
        |    CAST(SUM(CASE WHEN NOT rt THEN CAST(x AS HUGEINT) * y END) AS HUGEINT) AS sxyl,
        |    CAST(SUM(CASE WHEN NOT rt THEN CAST(x AS HUGEINT) * x END) AS HUGEINT) AS sxxl,
        |    CAST(SUM(CASE WHEN rt THEN CAST(x AS HUGEINT) END) AS HUGEINT) AS sxr,
        |    CAST(SUM(CASE WHEN rt THEN CAST(y AS HUGEINT) END) AS HUGEINT) AS syr,
        |    CAST(SUM(CASE WHEN rt THEN CAST(x AS HUGEINT) * y END) AS HUGEINT) AS sxyr,
        |    CAST(SUM(CASE WHEN rt THEN CAST(x AS HUGEINT) * x END) AS HUGEINT) AS sxxr
        |  FROM b),
        |fit AS (SELECT nl, nr,
        |    CASE WHEN nl >= 2 AND CAST(nl * sxxl - sxl * sxl AS DOUBLE) <> 0
        |      THEN CAST(nl * sxyl - sxl * syl AS DOUBLE) / CAST(nl * sxxl - sxl * sxl AS DOUBLE) * 1e4
        |    END AS sl,
        |    CASE WHEN nr >= 2 AND CAST(nr * sxxr - sxr * sxr AS DOUBLE) <> 0
        |      THEN CAST(nr * sxyr - sxr * syr AS DOUBLE) / CAST(nr * sxxr - sxr * sxr AS DOUBLE) * 1e4
        |    END AS sr,
        |    sxl, syl, sxr, syr FROM agg),
        |ic AS (SELECT nl, nr, sl, sr,
        |    (CAST(syl AS DOUBLE) / 100 - sl * (CAST(sxl AS DOUBLE) / 1e6)) / CAST(nl AS DOUBLE) AS il,
        |    (CAST(syr AS DOUBLE) / 100 - sr * (CAST(sxr AS DOUBLE) / 1e6)) / CAST(nr AS DOUBLE) AS ir
        |  FROM fit)
        |SELECT CAST(nl AS BIGINT) AS n_left, CAST(nr AS BIGINT) AS n_right,
        |  CAST(CAST(sl AS DECIMAL(18,6)) AS DOUBLE) AS slope_left,
        |  CAST(CAST(sr AS DECIMAL(18,6)) AS DOUBLE) AS slope_right,
        |  CAST(CAST(il AS DECIMAL(18,6)) AS DOUBLE) AS intercept_left,
        |  CAST(CAST(ir AS DECIMAL(18,6)) AS DOUBLE) AS intercept_right,
        |  CAST(CAST(ir - il AS DECIMAL(18,6)) AS DOUBLE) AS jump
        |FROM ic""".stripMargin,
    "q352_wald_iv" ->
      // ITT and first stage quantized at 9 dp before the single ratio
      """WITH per AS (SELECT user_id,
        |        COUNT(CASE WHEN event_type = 'view' THEN 1 END) AS n_views,
        |        COALESCE(SUM(CASE WHEN event_type = 'purchase' THEN value END), 0) AS spend
        |      FROM events GROUP BY user_id),
        |agg AS (SELECT
        |    COUNT(CASE WHEN user_id % 2 = 0 THEN 1 END) AS n1,
        |    COUNT(CASE WHEN user_id % 2 <> 0 THEN 1 END) AS n0,
        |    CAST(SUM(CASE WHEN user_id % 2 = 0 THEN CAST(n_views AS DECIMAL(18,6)) END) AS DECIMAL(38,6)) AS sx1,
        |    CAST(SUM(CASE WHEN user_id % 2 <> 0 THEN CAST(n_views AS DECIMAL(18,6)) END) AS DECIMAL(38,6)) AS sx0,
        |    CAST(SUM(CASE WHEN user_id % 2 = 0 THEN CAST(spend AS DECIMAL(18,2)) END) AS DECIMAL(38,2)) AS sy1,
        |    CAST(SUM(CASE WHEN user_id % 2 <> 0 THEN CAST(spend AS DECIMAL(18,2)) END) AS DECIMAL(38,2)) AS sy0
        |  FROM per),
        |q AS (SELECT n1, n0,
        |    CAST(CAST(sx1 AS DOUBLE) / CAST(n1 AS DOUBLE) -
        |         CAST(sx0 AS DOUBLE) / CAST(n0 AS DOUBLE) AS DECIMAL(18,9)) AS fs,
        |    CAST(CAST(sy1 AS DOUBLE) / CAST(n1 AS DOUBLE) -
        |         CAST(sy0 AS DOUBLE) / CAST(n0 AS DOUBLE) AS DECIMAL(18,9)) AS itt
        |  FROM agg WHERE n1 > 0 AND n0 > 0)
        |SELECT CAST(n1 AS BIGINT) AS n_encouraged, CAST(n0 AS BIGINT) AS n_control,
        |  CAST(fs AS DOUBLE) AS first_stage, CAST(itt AS DOUBLE) AS itt,
        |  CASE WHEN CAST(fs AS DOUBLE) <> 0 THEN
        |    CAST(CAST(CAST(itt AS DOUBLE) / CAST(fs AS DOUBLE) AS DECIMAL(18,9)) AS DOUBLE)
        |  END AS late
        |FROM q""".stripMargin,
    "q347_mahalanobis" ->
      // per-customer CTE + exact power sums; covariance/inverse chain
      // mirrored double-for-double, d² quantized at 6 dp, (d² desc, id)
      """WITH per AS (SELECT o_custkey,
        |        CAST(COUNT(*) AS DECIMAL(18,2)) AS x,
        |        CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS y
        |      FROM orders GROUP BY o_custkey),
        |st AS (SELECT COUNT(*) AS n,
        |        CAST(SUM(x) AS DECIMAL(28,2)) AS sx, CAST(SUM(y) AS DECIMAL(28,2)) AS sy,
        |        CAST(SUM(CAST(x * x AS DECIMAL(38,4))) AS DECIMAL(38,4)) AS sxx,
        |        CAST(SUM(CAST(y * y AS DECIMAL(38,4))) AS DECIMAL(38,4)) AS syy,
        |        CAST(SUM(CAST(x * y AS DECIMAL(38,4))) AS DECIMAL(38,4)) AS sxy
        |      FROM per),
        |cv AS (SELECT n,
        |        CAST(CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) AS DECIMAL(18,9)) AS mx,
        |        CAST(CAST(sy AS DOUBLE) / CAST(n AS DOUBLE) AS DECIMAL(18,9)) AS my,
        |        CAST((CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)) / (CAST(n AS DOUBLE) - 1) AS DECIMAL(38,4)) AS cxx,
        |        CAST((CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) / CAST(n AS DOUBLE)) / (CAST(n AS DOUBLE) - 1) AS DECIMAL(38,4)) AS cyy,
        |        CAST((CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) / CAST(n AS DOUBLE)) / (CAST(n AS DOUBLE) - 1) AS DECIMAL(38,4)) AS cxy
        |      FROM st),
        |dt AS (SELECT n, mx, my, cxx, cyy, cxy,
        |        CAST(CAST(cxx AS DOUBLE) * CAST(cyy AS DOUBLE) -
        |             CAST(cxy AS DOUBLE) * CAST(cxy AS DOUBLE) AS DECIMAL(38,4)) AS det
        |      FROM cv),
        |sc AS (SELECT o_custkey, x, y,
        |        CAST((dx * (CAST(cyy AS DOUBLE) * dx - CAST(cxy AS DOUBLE) * dy) +
        |              dy * (CAST(cxx AS DOUBLE) * dy - CAST(cxy AS DOUBLE) * dx))
        |             / CAST(det AS DOUBLE) AS DECIMAL(18,6)) AS md2
        |       FROM (SELECT per.o_custkey, per.x, per.y,
        |               CAST(per.x AS DOUBLE) - CAST(mx AS DOUBLE) AS dx,
        |               CAST(per.y AS DOUBLE) - CAST(my AS DOUBLE) AS dy,
        |               cxx, cyy, cxy, det, n
        |             FROM per, dt WHERE n >= 3 AND CAST(det AS DOUBLE) > 0) q)
        |SELECT o_custkey, CAST(x AS DOUBLE) AS x, CAST(y AS DOUBLE) AS y,
        |  CAST(md2 AS DOUBLE) AS md2,
        |  CASE WHEN CAST(md2 AS DOUBLE) > 5.991 THEN 1 ELSE 0 END AS beyond_chi2_95
        |FROM sc ORDER BY md2 DESC, o_custkey LIMIT 20""".stripMargin,
    "q348_rate_ratio" ->
      // unit-grain exposures/events folded in ONE conditional aggregate;
      // rates and the conditional-binomial z mirrored double-for-double
      """WITH per AS (SELECT user_id,
        |        COUNT(DISTINCT CAST(ts AS DATE)) AS days,
        |        COUNT(CASE WHEN event_type = 'purchase' THEN 1 END) AS purch
        |      FROM events GROUP BY user_id),
        |agg AS (SELECT
        |    CAST(SUM(CASE WHEN user_id % 2 = 0 THEN CAST(days AS DECIMAL(18,6)) END) AS DECIMAL(38,6)) AS ta,
        |    CAST(SUM(CASE WHEN user_id % 2 <> 0 THEN CAST(days AS DECIMAL(18,6)) END) AS DECIMAL(38,6)) AS tb,
        |    COALESCE(CAST(SUM(CASE WHEN user_id % 2 = 0 THEN purch END) AS BIGINT), 0) AS ka,
        |    COALESCE(CAST(SUM(CASE WHEN user_id % 2 <> 0 THEN purch END) AS BIGINT), 0) AS kb
        |  FROM per)
        |SELECT ka AS events_a, kb AS events_b,
        |  CAST(ta AS DOUBLE) AS exposure_a, CAST(tb AS DOUBLE) AS exposure_b,
        |  CASE WHEN ta IS NOT NULL AND CAST(ta AS DOUBLE) > 0 THEN
        |    CAST(CAST(CAST(ka AS DOUBLE) / CAST(ta AS DOUBLE) AS DECIMAL(18,9)) AS DOUBLE) END AS rate_a,
        |  CASE WHEN tb IS NOT NULL AND CAST(tb AS DOUBLE) > 0 THEN
        |    CAST(CAST(CAST(kb AS DOUBLE) / CAST(tb AS DOUBLE) AS DECIMAL(18,9)) AS DOUBLE) END AS rate_b,
        |  CASE WHEN ta IS NOT NULL AND tb IS NOT NULL AND CAST(tb AS DOUBLE) > 0
        |        AND CAST(kb AS DOUBLE) > 0 AND CAST(ta AS DOUBLE) > 0 THEN
        |    CAST(CAST((CAST(ka AS DOUBLE) / CAST(ta AS DOUBLE)) / (CAST(kb AS DOUBLE) / CAST(tb AS DOUBLE))
        |      AS DECIMAL(18,9)) AS DOUBLE) END AS rate_ratio,
        |  CASE WHEN ta IS NOT NULL AND tb IS NOT NULL
        |        AND (CAST(ka AS DOUBLE) + CAST(kb AS DOUBLE)) > 0 THEN
        |    CAST(CAST((CAST(ka AS DOUBLE) - (CAST(ka AS DOUBLE) + CAST(kb AS DOUBLE)) * (CAST(ta AS DOUBLE) / (CAST(ta AS DOUBLE) + CAST(tb AS DOUBLE))))
        |      / sqrt((CAST(ka AS DOUBLE) + CAST(kb AS DOUBLE)) * (CAST(ta AS DOUBLE) / (CAST(ta AS DOUBLE) + CAST(tb AS DOUBLE)))
        |        * (1 - (CAST(ta AS DOUBLE) / (CAST(ta AS DOUBLE) + CAST(tb AS DOUBLE)))))
        |      AS DECIMAL(18,9)) AS DOUBLE) END AS z
        |FROM agg""".stripMargin,
    "q349_mixed_script" ->
      // replace-length counting in the RE2 ∩ Java dialect ('g' flag on
      // the DuckDB side); counts exact integers, nothing quantized
      """SELECT doc_id,
        |  CAST(length(text) - length(regexp_replace(text, '[A-Za-z]', '', 'g')) AS BIGINT) AS latin,
        |  CAST(length(text) - length(regexp_replace(text, '[\x{0400}-\x{04FF}]', '', 'g')) AS BIGINT) AS cyrillic,
        |  CAST(length(text) - length(regexp_replace(text, '[\x{0370}-\x{03FF}]', '', 'g')) AS BIGINT) AS greek,
        |  CAST(length(text) - length(regexp_replace(text, '[\x{4E00}-\x{9FFF}]', '', 'g')) AS BIGINT) AS cjk,
        |  CAST(length(text) - length(regexp_replace(text, '[\x{0430}\x{0435}\x{043E}\x{0440}\x{0441}\x{0445}\x{0443}\x{0410}\x{0415}\x{041E}\x{0420}\x{0421}\x{0425}]', '', 'g')) AS BIGINT) AS confusable_cyr,
        |  (CASE WHEN length(text) - length(regexp_replace(text, '[A-Za-z]', '', 'g')) > 0 THEN 1 ELSE 0 END
        |   + CASE WHEN length(text) - length(regexp_replace(text, '[\x{0400}-\x{04FF}]', '', 'g')) > 0 THEN 1 ELSE 0 END
        |   + CASE WHEN length(text) - length(regexp_replace(text, '[\x{0370}-\x{03FF}]', '', 'g')) > 0 THEN 1 ELSE 0 END
        |   + CASE WHEN length(text) - length(regexp_replace(text, '[\x{4E00}-\x{9FFF}]', '', 'g')) > 0 THEN 1 ELSE 0 END) AS n_scripts,
        |  CASE WHEN (CASE WHEN length(text) - length(regexp_replace(text, '[A-Za-z]', '', 'g')) > 0 THEN 1 ELSE 0 END
        |   + CASE WHEN length(text) - length(regexp_replace(text, '[\x{0400}-\x{04FF}]', '', 'g')) > 0 THEN 1 ELSE 0 END
        |   + CASE WHEN length(text) - length(regexp_replace(text, '[\x{0370}-\x{03FF}]', '', 'g')) > 0 THEN 1 ELSE 0 END
        |   + CASE WHEN length(text) - length(regexp_replace(text, '[\x{4E00}-\x{9FFF}]', '', 'g')) > 0 THEN 1 ELSE 0 END) >= 2
        |   THEN 1 ELSE 0 END AS mixed_flag
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q344_domain_logodds" ->
      // one token explode feeds both LM counts (conditional agg) and the
      // scoring join; ln-odds terms decimal-quantized pre-sum
      """WITH dt AS (SELECT doc_id, source = 'src0' AS is_t,
        |        unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS tok FROM documents),
        |m AS (SELECT tok, COUNT(CASE WHEN is_t THEN 1 END) AS ct,
        |        COUNT(CASE WHEN NOT is_t THEN 1 END) AS cb FROM dt GROUP BY tok),
        |tot AS (SELECT CAST(SUM(ct) AS BIGINT) AS nt, CAST(SUM(cb) AS BIGINT) AS nb,
        |        COUNT(*) AS v FROM m),
        |sc AS (SELECT doc_id,
        |        CAST(ln(CAST(ct + 1 AS DOUBLE) / CAST(nt + v AS DOUBLE)) -
        |             ln(CAST(cb + 1 AS DOUBLE) / CAST(nb + v AS DOUBLE)) AS DECIMAL(28,9)) AS lo
        |       FROM dt JOIN m USING (tok), tot)
        |SELECT doc_id, COUNT(*) AS n_tokens,
        |  CAST(CAST(CAST(SUM(lo) AS DOUBLE) / COUNT(*) AS DECIMAL(18,6)) AS DOUBLE) AS log_odds
        |FROM sc GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "q345_rake_weights" ->
      // 3 unrolled IPF passes; every factor DECIMAL(18,9), every cell
      // weight DECIMAL(18,6) — both engines walk identical fixed points
      """WITH cells AS (SELECT source AS a, lang AS b, COUNT(*) AS n_sample
        |        FROM documents WHERE doc_id % 7 = 0 GROUP BY 1, 2),
        |ta AS (SELECT source AS a, COUNT(*) AS ta FROM documents GROUP BY 1),
        |tb AS (SELECT lang AS b, COUNT(*) AS tb FROM documents GROUP BY 1),
        |w0 AS (SELECT a, b, n_sample, ta, tb,
        |         CASE WHEN ta IS NOT NULL AND tb IS NOT NULL
        |              THEN CAST(n_sample AS DECIMAL(18,6)) END AS w
        |       FROM cells LEFT JOIN ta USING (a) LEFT JOIN tb USING (b)),
        |r1 AS (SELECT a, SUM(w) AS rs FROM w0 GROUP BY a),
        |w1a AS (SELECT w0.a, b, n_sample, ta, tb,
        |         CAST(CAST(w AS DOUBLE) * CAST(CAST(CAST(ta AS DOUBLE) / CAST(rs AS DOUBLE)
        |           AS DECIMAL(18,9)) AS DOUBLE) AS DECIMAL(18,6)) AS w
        |        FROM w0 JOIN r1 ON w0.a = r1.a),
        |c1 AS (SELECT b, SUM(w) AS cs FROM w1a GROUP BY b),
        |w1b AS (SELECT a, w1a.b, n_sample, ta, tb,
        |         CAST(CAST(w AS DOUBLE) * CAST(CAST(CAST(tb AS DOUBLE) / CAST(cs AS DOUBLE)
        |           AS DECIMAL(18,9)) AS DOUBLE) AS DECIMAL(18,6)) AS w
        |        FROM w1a JOIN c1 ON w1a.b = c1.b),
        |r2 AS (SELECT a, SUM(w) AS rs FROM w1b GROUP BY a),
        |w2a AS (SELECT w1b.a, b, n_sample, ta, tb,
        |         CAST(CAST(w AS DOUBLE) * CAST(CAST(CAST(ta AS DOUBLE) / CAST(rs AS DOUBLE)
        |           AS DECIMAL(18,9)) AS DOUBLE) AS DECIMAL(18,6)) AS w
        |        FROM w1b JOIN r2 ON w1b.a = r2.a),
        |c2 AS (SELECT b, SUM(w) AS cs FROM w2a GROUP BY b),
        |w2b AS (SELECT a, w2a.b, n_sample, ta, tb,
        |         CAST(CAST(w AS DOUBLE) * CAST(CAST(CAST(tb AS DOUBLE) / CAST(cs AS DOUBLE)
        |           AS DECIMAL(18,9)) AS DOUBLE) AS DECIMAL(18,6)) AS w
        |        FROM w2a JOIN c2 ON w2a.b = c2.b),
        |r3 AS (SELECT a, SUM(w) AS rs FROM w2b GROUP BY a),
        |w3a AS (SELECT w2b.a, b, n_sample, ta, tb,
        |         CAST(CAST(w AS DOUBLE) * CAST(CAST(CAST(ta AS DOUBLE) / CAST(rs AS DOUBLE)
        |           AS DECIMAL(18,9)) AS DOUBLE) AS DECIMAL(18,6)) AS w
        |        FROM w2b JOIN r3 ON w2b.a = r3.a),
        |c3 AS (SELECT b, SUM(w) AS cs FROM w3a GROUP BY b),
        |w3b AS (SELECT a, w3a.b, n_sample, ta, tb,
        |         CAST(CAST(w AS DOUBLE) * CAST(CAST(CAST(tb AS DOUBLE) / CAST(cs AS DOUBLE)
        |           AS DECIMAL(18,9)) AS DOUBLE) AS DECIMAL(18,6)) AS w
        |        FROM w3a JOIN c3 ON w3a.b = c3.b)
        |SELECT a AS source, b AS lang, n_sample, CAST(w AS DOUBLE) AS cell_weight,
        |  CAST(CAST(CAST(w AS DOUBLE) / CAST(n_sample AS DOUBLE) AS DECIMAL(18,6)) AS DOUBLE)
        |    AS weight_per_row
        |FROM w3b ORDER BY source, lang""".stripMargin,
    "q346_truncation_fidelity" ->
      // ids-only rank compare (the q27 contract — no float crosses
      // engines); truncation is a list slice on both sides
      """WITH f AS (SELECT a.vec_id AS query_id, b.vec_id AS full_top1
        |  FROM embeddings a JOIN embeddings b ON b.vec_id <> a.vec_id
        |  WHERE a.vec_id IN (0, 1, 2, 3, 4, 5, 6, 7)
        |  QUALIFY row_number() OVER (PARTITION BY a.vec_id
        |    ORDER BY list_cosine_similarity(a.embedding, b.embedding) DESC, b.vec_id) = 1),
        |t AS (SELECT a.vec_id AS query_id, b.vec_id AS trunc_top1
        |  FROM embeddings a JOIN embeddings b ON b.vec_id <> a.vec_id
        |  WHERE a.vec_id IN (0, 1, 2, 3, 4, 5, 6, 7)
        |  QUALIFY row_number() OVER (PARTITION BY a.vec_id
        |    ORDER BY list_cosine_similarity(a.embedding[1:8], b.embedding[1:8]) DESC, b.vec_id) = 1)
        |SELECT f.query_id, full_top1, trunc_top1,
        |  CASE WHEN full_top1 = trunc_top1 THEN 1 ELSE 0 END AS agree
        |FROM f JOIN t ON f.query_id = t.query_id ORDER BY f.query_id""".stripMargin,
    "q338_seq_patterns" ->
      // per-(user,type) min/max frame + one raw-event pass for length 3;
      // the support cut compares identical 9-dp decimals on both engines
      """WITH ev0 AS (SELECT user_id AS u, ts AS t, event_type AS s FROM events),
        |keep AS (SELECT u FROM ev0 GROUP BY u HAVING count(*) <= 1000),
        |ev AS (SELECT ev0.* FROM ev0 JOIN keep USING (u)),
        |ut AS (SELECT u, s, min(t) AS tmin, max(t) AS tmax FROM ev GROUP BY u, s),
        |nu AS (SELECT count(DISTINCT u) AS n FROM ev),
        |p1 AS (SELECT 1 AS len, s AS pattern, count(*) AS n_users FROM ut GROUP BY s),
        |p2 AS (SELECT 2 AS len, a.s || '>' || b.s AS pattern, count(*) AS n_users
        |       FROM ut a JOIN ut b ON a.u = b.u AND a.tmin < b.tmax
        |       GROUP BY a.s, b.s),
        |p3 AS (SELECT 3 AS len, sa || '>' || sb || '>' || sc AS pattern,
        |         count(*) AS n_users FROM (
        |         SELECT DISTINCT a.u, a.s AS sa, m.s AS sb, c.s AS sc
        |         FROM ut a JOIN ev m ON a.u = m.u AND a.tmin < m.t
        |           JOIN ut c ON m.u = c.u AND m.t < c.tmax) q3
        |       GROUP BY sa, sb, sc),
        |allp AS (SELECT * FROM p1 UNION ALL SELECT * FROM p2 UNION ALL SELECT * FROM p3)
        |SELECT len, pattern, CAST(n_users AS BIGINT) AS n_users,
        |  CAST(CAST(CAST(n_users AS DOUBLE) / CAST(n AS DOUBLE) AS DECIMAL(18,9)) AS DOUBLE) AS support
        |FROM allp, nu
        |WHERE CAST(CAST(n_users AS DOUBLE) / CAST(n AS DOUBLE) AS DECIMAL(18,9))
        |      >= CAST(0.05 AS DECIMAL(18,9))
        |ORDER BY len, pattern""".stripMargin,
    "q339_loo_influence" ->
      // exact decimal sums per source; Δ = mean(all) − mean(all ∖ g) as a
      // mirrored double chain, lone-source guard → NULL
      """WITH per AS (SELECT source AS g,
        |        CAST(SUM(CAST(n_chars AS DECIMAL(18,6))) AS DECIMAL(38,6)) AS sg,
        |        COUNT(*) AS ng
        |      FROM documents GROUP BY source),
        |tot AS (SELECT CAST(SUM(sg) AS DECIMAL(38,6)) AS s, CAST(SUM(ng) AS BIGINT) AS n FROM per)
        |SELECT g AS source, CAST(ng AS BIGINT) AS n_rows,
        |  CAST(CAST(CAST(sg AS DOUBLE) / CAST(ng AS DOUBLE) AS DECIMAL(18,9)) AS DOUBLE) AS group_mean,
        |  CASE WHEN n > ng THEN CAST(CAST(
        |    (CAST(s AS DOUBLE) / CAST(n AS DOUBLE)) -
        |    (CAST(s - sg AS DOUBLE) / CAST(n - ng AS DOUBLE))
        |    AS DECIMAL(18,9)) AS DOUBLE) END AS loo_delta
        |FROM per, tot ORDER BY source""".stripMargin,
    "q340_weibull" ->
      // median-rank regression in integer nano units: ln terms rounded to
      // 1e9 longs, all OLS folds HUGEINT (scale-0 — rounding impossible),
      // shape one double division, λ's exp chain mirrored verbatim
      """WITH pu AS (SELECT user_id,
        |    CAST(floor(epoch(min(CASE WHEN event_type = 'purchase' THEN ts END))) AS BIGINT)
        |      - CAST(floor(epoch(min(ts))) AS BIGINT) AS dur_sec,
        |    CASE WHEN user_id % 2 = 0 THEN 'even' ELSE 'odd' END AS cohort
        |  FROM events GROUP BY user_id
        |  HAVING min(CASE WHEN event_type = 'purchase' THEN ts END) IS NOT NULL),
        |base AS (SELECT cohort AS g, CAST(dur_sec AS DOUBLE) AS t FROM pu
        |         WHERE CAST(dur_sec AS DOUBLE) > 0),
        |r AS (SELECT g, t, row_number() OVER (PARTITION BY g ORDER BY t) AS i,
        |        count(*) OVER (PARTITION BY g) AS n FROM base),
        |q AS (SELECT g, n, CAST(round(ln(t) * 1e9) AS BIGINT) AS x,
        |    CAST(round(ln(-1 * ln(1 - (CAST(i AS DOUBLE) - 0.3) / (CAST(n AS DOUBLE) + 0.4))) * 1e9) AS BIGINT) AS y
        |  FROM r),
        |agg AS (SELECT g, CAST(max(n) AS HUGEINT) AS n,
        |    CAST(SUM(CAST(x AS HUGEINT)) AS HUGEINT) AS sx,
        |    CAST(SUM(CAST(y AS HUGEINT)) AS HUGEINT) AS sy,
        |    CAST(SUM(CAST(x AS HUGEINT) * y) AS HUGEINT) AS sxy,
        |    CAST(SUM(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx
        |  FROM q GROUP BY g),
        |fit AS (SELECT g, n, sx, sy,
        |    CASE WHEN n >= 2 AND CAST(n * sxx - sx * sx AS DOUBLE) <> 0
        |      THEN CAST(n * sxy - sx * sy AS DOUBLE) / CAST(n * sxx - sx * sx AS DOUBLE)
        |    END AS shape
        |  FROM agg)
        |SELECT g AS cohort, CAST(n AS BIGINT) AS n_failures,
        |  CAST(CAST(shape AS DECIMAL(18,9)) AS DOUBLE) AS shape,
        |  CASE WHEN shape IS NOT NULL AND shape <> 0 THEN
        |    CAST(CAST(exp(-1 * ((CAST(sy AS DOUBLE) / 1e9 - shape * (CAST(sx AS DOUBLE) / 1e9))
        |      / CAST(n AS DOUBLE)) / shape) AS DECIMAL(18,9)) AS DOUBLE)
        |  END AS scale
        |FROM fit ORDER BY cohort""".stripMargin,
    "q341_reciprocal_match" ->
      // q60's candidate CTE, symmetrized; per-node argmax via QUALIFY with
      // the same (score desc, partner) total order; mutual pairs survive
      """WITH names AS (SELECT p_name, MIN(p_partkey) AS p_partkey FROM part GROUP BY p_name),
        |cand AS (
        |  SELECT a.p_partkey AS id_a, b.p_partkey AS id_b, a.p_name AS s_a, b.p_name AS s_b
        |  FROM names a JOIN names b
        |    ON substring(a.p_name, 1, 4) = substring(b.p_name, 1, 4) AND a.p_partkey < b.p_partkey
        |  UNION
        |  SELECT a.p_partkey, b.p_partkey, a.p_name, b.p_name
        |  FROM names a JOIN names b
        |    ON substring(a.p_name, greatest(length(a.p_name) - 3, 1), 4)
        |       = substring(b.p_name, greatest(length(b.p_name) - 3, 1), 4)
        |   AND a.p_partkey < b.p_partkey),
        |pairs AS (SELECT id_a, id_b, CAST(0 - levenshtein(s_a, s_b) AS DECIMAL(18,9)) AS score
        |          FROM cand WHERE levenshtein(s_a, s_b) <= 2),
        |sym AS (SELECT id_a AS a, id_b AS b, score FROM pairs
        |        UNION ALL SELECT id_b, id_a, score FROM pairs),
        |best AS (SELECT a, b, score FROM sym
        |         QUALIFY row_number() OVER (PARTITION BY a ORDER BY score DESC, b) = 1)
        |SELECT x.a AS id_a, x.b AS id_b, CAST(x.score AS DOUBLE) AS score
        |FROM best x JOIN best y ON x.b = y.a AND y.b = x.a AND x.a < y.a
        |ORDER BY id_a""".stripMargin,
    "q342_periodogram" ->
      // day-grain counts × a 14-frequency grid; trig terms micro-quantized
      // before exact integer sums (libm cos/sin has no cross-engine bit
      // guarantee; the 1e6 rounding absorbs sub-ulp differences)
      """WITH day AS (SELECT CAST(ts AS DATE) AS d, count(*) AS x FROM events GROUP BY 1),
        |b AS (SELECT min(d) AS d0,
        |        CAST(date_diff('day', min(d), max(d)) + 1 AS BIGINT) AS n FROM day),
        |ks AS (SELECT CAST(k AS INT) AS k FROM generate_series(1, 14) AS t(k)),
        |wk AS (SELECT day.x, CAST(date_diff('day', b.d0, day.d) AS BIGINT) AS t, b.n, ks.k
        |       FROM day, b, ks WHERE ks.k < b.n),
        |terms AS (SELECT k, n,
        |    CAST(round(CAST(x AS DOUBLE) * cos(2 * pi() * CAST(k AS DOUBLE) * CAST(t AS DOUBLE)
        |      / CAST(n AS DOUBLE)) * 1e6) AS BIGINT) AS ct,
        |    CAST(round(CAST(x AS DOUBLE) * sin(2 * pi() * CAST(k AS DOUBLE) * CAST(t AS DOUBLE)
        |      / CAST(n AS DOUBLE)) * 1e6) AS BIGINT) AS st
        |  FROM wk),
        |f AS (SELECT k, CAST(SUM(ct) AS BIGINT) AS cN, CAST(SUM(st) AS BIGINT) AS sN,
        |        max(n) AS n FROM terms GROUP BY k)
        |SELECT k,
        |  CAST(CAST(CAST(n AS DOUBLE) / CAST(k AS DOUBLE) AS DECIMAL(18,6)) AS DOUBLE) AS period_days,
        |  CAST(CAST(((CAST(cN AS DOUBLE) / 1e6) * (CAST(cN AS DOUBLE) / 1e6) +
        |             (CAST(sN AS DOUBLE) / 1e6) * (CAST(sN AS DOUBLE) / 1e6))
        |    / CAST(n AS DOUBLE) AS DECIMAL(18,6)) AS DOUBLE) AS power
        |FROM f ORDER BY k""".stripMargin,
    "q343_dbscan" ->
      // all-pairs eps-graph at oracle scale (the engine's grid join is a
      // lossless candidate filter); min-label recursive CC mirrors the
      // alternating-star min-id contract; border takes min core cluster
      """WITH RECURSIVE pts AS (SELECT vec_id AS id, CAST(embedding[1] AS DOUBLE) AS x,
        |        CAST(embedding[2] AS DOUBLE) AS y FROM embeddings),
        |nbr AS (SELECT a.id AS id_a, b.id AS id_b FROM pts a JOIN pts b
        |        ON a.id <> b.id
        |       AND (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y)
        |           <= CAST(0.04 AS DOUBLE) * CAST(0.04 AS DOUBLE)),
        |core AS (SELECT id_a AS id FROM nbr GROUP BY id_a HAVING count(*) + 1 >= 5),
        |ce AS (SELECT n.id_a, n.id_b FROM nbr n JOIN core c1 ON n.id_a = c1.id
        |       JOIN core c2 ON n.id_b = c2.id WHERE n.id_a < n.id_b),
        |e AS (SELECT id_a AS src, id_b AS dst FROM ce UNION SELECT id_b, id_a FROM ce),
        |r(node, lab) AS (
        |  SELECT DISTINCT src, src FROM e
        |  UNION
        |  SELECT e.src, r.lab FROM e JOIN r ON e.dst = r.node),
        |cc AS (SELECT node, MIN(lab) AS cluster_id FROM r GROUP BY node),
        |colab AS (SELECT c.id, COALESCE(cc.cluster_id, c.id) AS cluster_id
        |          FROM core c LEFT JOIN cc ON cc.node = c.id),
        |bord AS (SELECT n.id_a AS id, MIN(cl.cluster_id) AS cluster_id
        |         FROM nbr n JOIN colab cl ON n.id_b = cl.id
        |         WHERE n.id_a NOT IN (SELECT id FROM core)
        |         GROUP BY n.id_a)
        |SELECT p.id, CASE WHEN co.id IS NOT NULL THEN 'core'
        |                  WHEN bo.id IS NOT NULL THEN 'border'
        |                  ELSE 'noise' END AS role,
        |  COALESCE(co.cluster_id, bo.cluster_id) AS cluster_id
        |FROM pts p LEFT JOIN colab co ON p.id = co.id LEFT JOIN bord bo ON p.id = bo.id
        |ORDER BY p.id""".stripMargin,
    "q335_logrank" ->
      // q157's per-user CTE + cohort; E/V terms nano-quantized before the
      // exact sums, HUGEINT products mirror the DECIMAL(38,0) ones
      """WITH pu AS (SELECT user_id,
        |        (CAST(floor(epoch(max(ts))) AS BIGINT) -
        |         CAST(floor(epoch(min(ts))) AS BIGINT)) // 86400 AS t,
        |        COUNT(CASE WHEN event_type = 'purchase' THEN 1 END) > 0 AS died,
        |        CASE WHEN user_id % 2 = 0 THEN 'even' ELSE 'odd' END AS cohort
        |      FROM events GROUP BY user_id),
        |pt AS (SELECT t, COUNT(CASE WHEN died THEN 1 END) AS d,
        |         COUNT(CASE WHEN NOT died THEN 1 END) AS c,
        |         COUNT(CASE WHEN cohort = 'even' AND died THEN 1 END) AS d1,
        |         COUNT(CASE WHEN cohort = 'even' AND NOT died THEN 1 END) AS c1
        |       FROM pu GROUP BY t),
        |tot AS (SELECT CAST(SUM(d + c) AS BIGINT) AS nn,
        |               CAST(SUM(d1 + c1) AS BIGINT) AS nn1 FROM pt),
        |cum AS (SELECT t, d, c, d1, c1,
        |          SUM(d) OVER (ORDER BY t) AS cum_d, SUM(c) OVER (ORDER BY t) AS cum_c,
        |          SUM(d1) OVER (ORDER BY t) AS cum_d1, SUM(c1) OVER (ORDER BY t) AS cum_c1
        |        FROM pt),
        |risk AS (SELECT t, d, d1, nn - (cum_d + cum_c - d - c) AS nr,
        |           nn1 - (cum_d1 + cum_c1 - d1 - c1) AS nr1
        |         FROM cum, tot WHERE d > 0),
        |terms AS (SELECT d1,
        |    CAST(round(CAST(CAST(d AS HUGEINT) * nr1 AS DOUBLE)
        |      / CAST(nr AS DOUBLE) * 1e9) AS BIGINT) AS e,
        |    CASE WHEN nr > 1 THEN CAST(round(
        |      CAST(CAST(d AS HUGEINT) * nr1 * (nr - nr1) * (nr - d) AS DOUBLE)
        |      / CAST(CAST(nr AS HUGEINT) * nr * (nr - 1) AS DOUBLE) * 1e9) AS BIGINT)
        |    ELSE 0 END AS v
        |  FROM risk),
        |f AS (SELECT CAST(SUM(d1) AS BIGINT) AS o1, CAST(SUM(e) AS BIGINT) AS eN,
        |             CAST(SUM(v) AS BIGINT) AS vN, COUNT(*) AS n_event_times FROM terms)
        |SELECT CAST(nn1 AS BIGINT) AS n_a, CAST(nn - nn1 AS BIGINT) AS n_b,
        |  CAST(n_event_times AS BIGINT) AS n_event_times, o1 AS observed_a,
        |  CAST(CAST(CAST(eN AS DOUBLE) / 1e9 AS DECIMAL(18,9)) AS DOUBLE) AS expected_a,
        |  CASE WHEN vN > 0 THEN CAST(CAST(
        |    (CAST(o1 AS DOUBLE) - CAST(eN AS DOUBLE) / 1e9) / sqrt(CAST(vN AS DOUBLE) / 1e9)
        |    AS DECIMAL(18,9)) AS DOUBLE) END AS z,
        |  CASE WHEN vN > 0 THEN CAST(CAST(
        |    ((CAST(o1 AS DOUBLE) - CAST(eN AS DOUBLE) / 1e9) / sqrt(CAST(vN AS DOUBLE) / 1e9))
        |    * ((CAST(o1 AS DOUBLE) - CAST(eN AS DOUBLE) / 1e9) / sqrt(CAST(vN AS DOUBLE) / 1e9))
        |    AS DECIMAL(18,9)) AS DOUBLE) END AS chi2
        |FROM f, tot""".stripMargin,
    "q336_map_at_k" ->
      // each P@i nano-quantized before the per-query sum; AP's normalizer
      // and both means are single mirrored double chains
      """WITH r AS (SELECT o_custkey AS q, o_orderkey AS i, o_totalprice AS s,
        |    CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS rel
        |  FROM orders),
        |rk AS (SELECT q, i, rel,
        |    row_number() OVER (PARTITION BY q ORDER BY s DESC, i) AS r,
        |    SUM(rel) OVER (PARTITION BY q ORDER BY s DESC, i
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cr
        |  FROM r),
        |pq AS (SELECT q, CAST(SUM(rel) AS BIGINT) AS n_rel,
        |    CAST(SUM(CASE WHEN r <= 5 AND rel = 1
        |      THEN CAST(round(CAST(cr AS DOUBLE) / CAST(r AS DOUBLE) * 1e9) AS BIGINT)
        |      ELSE 0 END) AS BIGINT) AS apN,
        |    COUNT(CASE WHEN r <= 5 AND rel = 1 THEN 1 END) AS hits
        |  FROM rk GROUP BY q HAVING SUM(rel) > 0),
        |ap AS (SELECT q,
        |    CAST(CAST(apN AS DOUBLE) / 1e9 / CAST(least(n_rel, 5) AS DOUBLE)
        |      AS DECIMAL(18,9)) AS ap,
        |    CAST(CAST(hits AS DOUBLE) / CAST(5 AS DOUBLE) AS DECIMAL(18,9)) AS pk
        |  FROM pq)
        |SELECT CAST(COUNT(*) AS BIGINT) AS n_queries,
        |  CAST(CAST(CAST(SUM(ap) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
        |    AS DECIMAL(18,9)) AS DOUBLE) AS map_at_k,
        |  CAST(CAST(CAST(SUM(pk) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
        |    AS DECIMAL(18,9)) AS DOUBLE) AS p_at_k
        |FROM ap""".stripMargin,
    "q337_shapley" ->
      // journey bitmasks via SUM(DISTINCT bit); the 8-row coalition
      // lattice, subset sums, and factorial-weighted marginals mirrored
      // on integers; n! divided out once
      """WITH conv AS (SELECT user_id AS u, CAST(floor(epoch(ts)) AS BIGINT) AS cts,
        |    event_id AS cid
        |  FROM events WHERE event_type = 'purchase'),
        |touch AS (SELECT user_id AS u, CAST(floor(epoch(ts)) AS BIGINT) AS tts,
        |    CASE event_type WHEN 'view' THEN 1 WHEN 'click' THEN 2 ELSE 4 END AS b
        |  FROM events WHERE event_type IN ('view', 'click', 'signup')),
        |j AS (SELECT conv.u, conv.cid, touch.b
        |  FROM conv JOIN touch ON touch.u = conv.u
        |    AND touch.tts < conv.cts AND touch.tts >= conv.cts - 604800),
        |jn AS (SELECT u, cid, SUM(DISTINCT b) AS m FROM j GROUP BY 1, 2),
        |cnt AS (SELECT m, COUNT(*) AS cm FROM jn GROUP BY 1),
        |coal AS (SELECT unnest(range(0, 8)) AS s),
        |v AS (SELECT s, CAST(COALESCE(SUM(cm), 0) AS BIGINT) AS v
        |  FROM coal LEFT JOIN cnt ON (cnt.m & coal.s) = cnt.m GROUP BY s),
        |pairs AS (SELECT ch.j, v1.s, v1.v, v2.v AS vw
        |  FROM v v1
        |  CROSS JOIN (SELECT unnest(range(0, 3)) AS j) ch
        |  JOIN v v2 ON v2.s = v1.s + (CASE ch.j WHEN 0 THEN 1 WHEN 1 THEN 2 ELSE 4 END)
        |  WHERE (v1.s & (CASE ch.j WHEN 0 THEN 1 WHEN 1 THEN 2 ELSE 4 END)) = 0),
        |phi AS (SELECT j,
        |    SUM((CASE bit_count(s) WHEN 0 THEN 2 WHEN 1 THEN 1 ELSE 2 END) * (vw - v)) AS num,
        |    SUM(CASE WHEN s + (CASE j WHEN 0 THEN 1 WHEN 1 THEN 2 ELSE 4 END) = 7
        |        THEN vw - v ELSE 0 END) AS n_journeys
        |  FROM pairs GROUP BY j)
        |SELECT CASE j WHEN 0 THEN 'view' WHEN 1 THEN 'click' ELSE 'signup' END AS channel,
        |  CAST(CAST(CAST(num AS DOUBLE) / CAST(6 AS DOUBLE) AS DECIMAL(18,9)) AS DOUBLE)
        |    AS shapley_credit,
        |  CAST(n_journeys AS BIGINT) AS n_journeys
        |FROM phi ORDER BY channel""".stripMargin,
    "q327_diff_in_diff" ->
      // four cell (n, Σ) pairs in one conditional aggregate; each mean is
      // one double division; the DiD chain mirrored literally
      """WITH g AS (SELECT
        |  COUNT(CASE WHEN user_id % 2 = 0 AND day(ts) > 15 THEN 1 END) AS n_t1,
        |  SUM(CASE WHEN user_id % 2 = 0 AND day(ts) > 15 THEN CAST(value AS DECIMAL(18,2)) END) AS s_t1,
        |  COUNT(CASE WHEN user_id % 2 = 0 AND NOT day(ts) > 15 THEN 1 END) AS n_t0,
        |  SUM(CASE WHEN user_id % 2 = 0 AND NOT day(ts) > 15 THEN CAST(value AS DECIMAL(18,2)) END) AS s_t0,
        |  COUNT(CASE WHEN NOT user_id % 2 = 0 AND day(ts) > 15 THEN 1 END) AS n_c1,
        |  SUM(CASE WHEN NOT user_id % 2 = 0 AND day(ts) > 15 THEN CAST(value AS DECIMAL(18,2)) END) AS s_c1,
        |  COUNT(CASE WHEN NOT user_id % 2 = 0 AND NOT day(ts) > 15 THEN 1 END) AS n_c0,
        |  SUM(CASE WHEN NOT user_id % 2 = 0 AND NOT day(ts) > 15 THEN CAST(value AS DECIMAL(18,2)) END) AS s_c0
        |  FROM events)
        |SELECT CAST(n_t1 AS BIGINT) AS n_treated_post, CAST(n_t0 AS BIGINT) AS n_treated_pre,
        |  CAST(n_c1 AS BIGINT) AS n_control_post, CAST(n_c0 AS BIGINT) AS n_control_pre,
        |  CAST(CAST(CAST(s_t1 AS DOUBLE) / CAST(n_t1 AS DOUBLE) AS DECIMAL(18,6)) AS DOUBLE) AS mean_treated_post,
        |  CAST(CAST(CAST(s_t0 AS DOUBLE) / CAST(n_t0 AS DOUBLE) AS DECIMAL(18,6)) AS DOUBLE) AS mean_treated_pre,
        |  CAST(CAST(CAST(s_c1 AS DOUBLE) / CAST(n_c1 AS DOUBLE) AS DECIMAL(18,6)) AS DOUBLE) AS mean_control_post,
        |  CAST(CAST(CAST(s_c0 AS DOUBLE) / CAST(n_c0 AS DOUBLE) AS DECIMAL(18,6)) AS DOUBLE) AS mean_control_pre,
        |  CASE WHEN n_t1 > 0 AND n_t0 > 0 AND n_c1 > 0 AND n_c0 > 0 THEN
        |    CAST(CAST((CAST(s_t1 AS DOUBLE) / CAST(n_t1 AS DOUBLE) - CAST(s_t0 AS DOUBLE) / CAST(n_t0 AS DOUBLE))
        |      - (CAST(s_c1 AS DOUBLE) / CAST(n_c1 AS DOUBLE) - CAST(s_c0 AS DOUBLE) / CAST(n_c0 AS DOUBLE))
        |      AS DECIMAL(18,9)) AS DOUBLE) END AS did_effect
        |FROM g""".stripMargin,
    "q328_sign_flip" ->
      // the q25 md5 convention powers 64 deterministic ± vectors; exact
      // integer cent sums, one division for p
      """WITH units AS (SELECT CAST(user_id AS VARCHAR) AS id,
        |    CAST(SUM(CASE WHEN event_type = 'purchase' THEN CAST(value AS DECIMAL(18,2))
        |                  ELSE -CAST(value AS DECIMAL(18,2)) END) * 100 AS BIGINT) AS x
        |  FROM events WHERE event_type IN ('purchase', 'view') GROUP BY 1),
        |h AS (SELECT x, md5_number_upper(id) AS h FROM units),
        |flips AS (SELECT b, SUM(CASE WHEN (h >> b) & 1 = 1 THEN x ELSE -x END) AS fx
        |  FROM h CROSS JOIN (SELECT unnest(range(64)) AS b) GROUP BY 1),
        |obs AS (SELECT ABS(SUM(x)) AS t_obs, COUNT(*) AS n FROM units),
        |agg AS (SELECT COUNT(CASE WHEN ABS(fx) >= t_obs THEN 1 END) AS n_extreme
        |  FROM flips CROSS JOIN obs)
        |SELECT CAST(n AS BIGINT) AS n_units,
        |  CAST(t_obs AS DOUBLE) / 100 AS observed_abs_sum,
        |  CAST(n_extreme AS BIGINT) AS n_extreme,
        |  CAST(CAST((CAST(n_extreme AS DOUBLE) + 1) / 65 AS DECIMAL(18,9)) AS DOUBLE) AS p_value
        |FROM agg CROSS JOIN obs""".stripMargin,
    "q329_interrupted_series" ->
      // day offsets from the knot (t_knot = 0), exact integer power sums
      // per segment, one division per slope/intercept (the q104 recipe)
      """WITH daily AS (SELECT CAST(ts AS DATE) AS day, COUNT(*) AS y FROM events GROUP BY 1),
        |d2 AS (SELECT CAST(date_diff('day', DATE '2024-01-16', day) AS BIGINT) AS t, y FROM daily),
        |seg AS (SELECT t >= 0 AS post, COUNT(*) AS n, SUM(t) AS st, SUM(y) AS sy,
        |    SUM(CAST(t AS HUGEINT) * t) AS stt, SUM(CAST(t AS HUGEINT) * y) AS sty
        |  FROM d2 GROUP BY 1),
        |fits AS (SELECT post, n,
        |    CASE WHEN n >= 2 AND CAST(n AS DOUBLE) * CAST(stt AS DOUBLE) - CAST(st AS DOUBLE) * CAST(st AS DOUBLE) <> 0
        |      THEN (CAST(n AS DOUBLE) * CAST(sty AS DOUBLE) - CAST(st AS DOUBLE) * CAST(sy AS DOUBLE))
        |         / (CAST(n AS DOUBLE) * CAST(stt AS DOUBLE) - CAST(st AS DOUBLE) * CAST(st AS DOUBLE)) END AS b,
        |    CASE WHEN n >= 2 AND CAST(n AS DOUBLE) * CAST(stt AS DOUBLE) - CAST(st AS DOUBLE) * CAST(st AS DOUBLE) <> 0
        |      THEN (CAST(sy AS DOUBLE) * CAST(stt AS DOUBLE) - CAST(st AS DOUBLE) * CAST(sty AS DOUBLE))
        |         / (CAST(n AS DOUBLE) * CAST(stt AS DOUBLE) - CAST(st AS DOUBLE) * CAST(st AS DOUBLE)) END AS a
        |  FROM seg)
        |SELECT CAST(MAX(CASE WHEN NOT post THEN n END) AS BIGINT) AS n_pre,
        |  CAST(MAX(CASE WHEN post THEN n END) AS BIGINT) AS n_post,
        |  CAST(CAST(MAX(CASE WHEN NOT post THEN b END) AS DECIMAL(18,9)) AS DOUBLE) AS slope_pre,
        |  CAST(CAST(MAX(CASE WHEN post THEN b END) AS DECIMAL(18,9)) AS DOUBLE) AS slope_post,
        |  CAST(CAST(MAX(CASE WHEN post THEN b END) - MAX(CASE WHEN NOT post THEN b END) AS DECIMAL(18,9)) AS DOUBLE) AS slope_change,
        |  CAST(CAST(MAX(CASE WHEN post THEN a END) - MAX(CASE WHEN NOT post THEN a END) AS DECIMAL(18,9)) AS DOUBLE) AS level_change
        |FROM fits""".stripMargin,
    "q330_median_of_means" ->
      // md5-bucketed (low 32 bits mod 9) exact bucket means, exact middle
      """WITH units AS (SELECT CAST(user_id AS VARCHAR) AS id,
        |    CAST(SUM(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT) AS x
        |  FROM events GROUP BY 1),
        |b AS (SELECT (md5_number_upper(id) & 4294967295) % 9 AS bucket, x FROM units),
        |pb AS (SELECT bucket, COUNT(*) AS n, SUM(x) AS s,
        |    CAST(SUM(x) AS DOUBLE) / COUNT(*) / 100 AS m FROM b GROUP BY 1),
        |g AS (SELECT COUNT(*) AS kf, SUM(n) AS nu,
        |    CAST(SUM(s) AS DOUBLE) / SUM(n) / 100 AS gm, quantile_cont(m, 0.5) AS mom FROM pb)
        |SELECT CAST(kf AS BIGINT) AS k_buckets, CAST(nu AS BIGINT) AS n_units,
        |  CAST(CAST(gm AS DECIMAL(18,9)) AS DOUBLE) AS global_mean,
        |  CAST(CAST(mom AS DECIMAL(18,9)) AS DOUBLE) AS median_of_means
        |FROM g""".stripMargin,
    "q331_script_profile" ->
      // same planted multilingual corpus; per-class counts by the
      // replace-length recipe (RE2 \x{hhhh} ranges, 'g' flag), shares are
      // single divisions of exact integers
      """WITH corpus AS (
        |  SELECT source, text FROM documents
        |  UNION ALL
        |  SELECT 'planted_' || CASE WHEN doc_id % 3 = 0 THEN 'ru' WHEN doc_id % 3 = 1 THEN 'zh' ELSE 'ko' END,
        |    text || ' ' || CASE WHEN doc_id % 3 = 0 THEN 'привет мир' WHEN doc_id % 3 = 1 THEN '你好世界' ELSE '안녕하세요' END
        |  FROM documents WHERE doc_id < 6),
        |pd AS (SELECT source, length(text) AS n,
        |    length(text) - length(regexp_replace(text, '[A-Za-z]', '', 'g')) AS ascii_alpha,
        |    length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS digit,
        |    length(text) - length(regexp_replace(text, '[\x{00C0}-\x{00FF}]', '', 'g')) AS latin1,
        |    length(text) - length(regexp_replace(text, '[\x{0400}-\x{04FF}]', '', 'g')) AS cyrillic,
        |    length(text) - length(regexp_replace(text, '[\x{4E00}-\x{9FFF}]', '', 'g')) AS cjk,
        |    length(text) - length(regexp_replace(text, '[\x{AC00}-\x{D7AF}]', '', 'g')) AS hangul
        |  FROM corpus),
        |g AS (SELECT source, COUNT(*) AS n_docs, SUM(n) AS n_chars,
        |    SUM(ascii_alpha) AS ascii_alpha, SUM(digit) AS digit, SUM(latin1) AS latin1,
        |    SUM(cyrillic) AS cyrillic, SUM(cjk) AS cjk, SUM(hangul) AS hangul
        |  FROM pd GROUP BY 1)
        |SELECT source, CAST(n_docs AS BIGINT) AS n_docs, CAST(n_chars AS BIGINT) AS n_chars,
        |  CAST(ascii_alpha AS BIGINT) AS ascii_alpha, CAST(digit AS BIGINT) AS digit,
        |  CAST(latin1 AS BIGINT) AS latin1, CAST(cyrillic AS BIGINT) AS cyrillic,
        |  CAST(cjk AS BIGINT) AS cjk, CAST(hangul AS BIGINT) AS hangul,
        |  CASE WHEN n_chars > 0 THEN CAST(CAST(CAST(ascii_alpha AS DOUBLE) / CAST(n_chars AS DOUBLE) AS DECIMAL(18,9)) AS DOUBLE) ELSE 0 END AS ascii_alpha_share,
        |  CASE WHEN n_chars > 0 THEN CAST(CAST(CAST(cyrillic AS DOUBLE) / CAST(n_chars AS DOUBLE) AS DECIMAL(18,9)) AS DOUBLE) ELSE 0 END AS cyrillic_share,
        |  CASE WHEN n_chars > 0 THEN CAST(CAST(CAST(cjk AS DOUBLE) / CAST(n_chars AS DOUBLE) AS DECIMAL(18,9)) AS DOUBLE) ELSE 0 END AS cjk_share
        |FROM g ORDER BY source""".stripMargin,
    "q111_grouping_sets" ->
      """SELECT o_orderstatus, o_orderpriority,
        |  CAST(GROUPING(o_orderstatus, o_orderpriority) AS BIGINT) AS gid,
        |  COUNT(*) AS n_orders,
        |  CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE) AS revenue
        |FROM orders
        |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        |ORDER BY gid, o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST""".stripMargin,
    "q112_user_lifecycle" ->
      """WITH uw AS (SELECT DISTINCT user_id AS u, date_trunc('week', ts) AS wk FROM events),
        |x AS (SELECT u, wk,
        |        MIN(wk) OVER (PARTITION BY u ORDER BY wk) AS first_wk,
        |        lag(wk) OVER (PARTITION BY u ORDER BY wk) AS prev_wk
        |      FROM uw)
        |SELECT strftime(wk, '%Y-%m-%d') AS week,
        |  CASE WHEN wk = first_wk THEN 'new'
        |       WHEN prev_wk = wk - INTERVAL 7 DAY THEN 'retained'
        |       ELSE 'resurrected' END AS status,
        |  COUNT(*) AS n_users
        |FROM x GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q113_golden_record" ->
      // q63's recursive-CTE cluster truth + completeness election on top
      """WITH RECURSIVE names AS (SELECT p_name, MIN(p_partkey) AS p_partkey FROM part GROUP BY p_name),
        |cand AS (
        |  SELECT a.p_partkey AS id_a, b.p_partkey AS id_b, a.p_name AS s_a, b.p_name AS s_b
        |  FROM names a JOIN names b
        |    ON substring(a.p_name, 1, 4) = substring(b.p_name, 1, 4) AND a.p_partkey < b.p_partkey
        |  UNION
        |  SELECT a.p_partkey, b.p_partkey, a.p_name, b.p_name
        |  FROM names a JOIN names b
        |    ON substring(a.p_name, greatest(length(a.p_name) - 3, 1), 4)
        |       = substring(b.p_name, greatest(length(b.p_name) - 3, 1), 4)
        |   AND a.p_partkey < b.p_partkey),
        |pairs AS (SELECT id_a, id_b FROM cand WHERE levenshtein(s_a, s_b) <= 2),
        |e AS (SELECT id_a AS src, id_b AS dst FROM pairs UNION SELECT id_b, id_a FROM pairs),
        |r(node, lab) AS (
        |  SELECT DISTINCT src, src FROM e
        |  UNION
        |  SELECT e.src, r.lab FROM e JOIN r ON e.dst = r.node),
        |clusters AS (SELECT node, MIN(lab) AS cluster_id FROM r GROUP BY node),
        |m AS (SELECT c.cluster_id, c.node, n.p_name,
        |        row_number() OVER (PARTITION BY c.cluster_id
        |          ORDER BY length(n.p_name) DESC, c.node) AS rk,
        |        COUNT(*) OVER (PARTITION BY c.cluster_id) AS cluster_size
        |      FROM clusters c JOIN names n ON c.node = n.p_partkey)
        |SELECT cluster_id, node AS canonical_id, p_name AS canonical_name, cluster_size
        |FROM m WHERE rk = 1 ORDER BY cluster_id""".stripMargin,
    "q114_cdc_compact" ->
      """WITH r AS (SELECT user_id, ts, event_id, event_type, value,
        |    row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rk
        |  FROM events)
        |SELECT user_id, ts, event_id, event_type, value
        |FROM r WHERE rk = 1 AND event_type <> 'error'
        |ORDER BY user_id""".stripMargin,
    "q115_snapshot_diff" ->
      """WITH o AS (SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders),
        |v1 AS (SELECT * FROM o WHERE o_orderkey % 3 <> 0),
        |v2 AS (SELECT o_orderkey,
        |         CASE WHEN o_orderkey % 7 = 0 THEN 'X' ELSE o_orderstatus END AS o_orderstatus,
        |         o_totalprice
        |       FROM o WHERE o_orderkey % 5 <> 0)
        |SELECT COALESCE(v1.o_orderkey, v2.o_orderkey) AS o_orderkey,
        |  CASE WHEN v1.o_orderkey IS NULL THEN 'added'
        |       WHEN v2.o_orderkey IS NULL THEN 'removed'
        |       WHEN NOT (v1.o_orderstatus IS NOT DISTINCT FROM v2.o_orderstatus
        |             AND v1.o_totalprice IS NOT DISTINCT FROM v2.o_totalprice) THEN 'changed'
        |  END AS change_type
        |FROM v1 FULL OUTER JOIN v2 USING (o_orderkey)
        |WHERE (CASE WHEN v1.o_orderkey IS NULL THEN 'added'
        |            WHEN v2.o_orderkey IS NULL THEN 'removed'
        |            WHEN NOT (v1.o_orderstatus IS NOT DISTINCT FROM v2.o_orderstatus
        |                  AND v1.o_totalprice IS NOT DISTINCT FROM v2.o_totalprice) THEN 'changed'
        |       END) IS NOT NULL
        |ORDER BY o_orderkey""".stripMargin,
    "q116_decayed_score" ->
      // λ = ln(2)/7 computed IN each engine (ln is bit-equal); age is
      // integer seconds → one division; term = value·e^x cast DECIMAL(28,9)
      // before the order-dependent sum; one quantization at the boundary
      """WITH ref AS (SELECT MAX(CAST(floor(epoch(ts)) AS BIGINT)) AS r FROM events),
        |t AS (SELECT user_id,
        |        CAST(value * exp(-(ln(2) / 7.0) *
        |          (CAST(ref.r - CAST(floor(epoch(ts)) AS BIGINT) AS DOUBLE) / 86400.0))
        |          AS DECIMAL(28,9)) AS term
        |      FROM events CROSS JOIN ref)
        |SELECT user_id, COUNT(*) AS n_events,
        |  CAST(CAST(CAST(SUM(term) AS DOUBLE) AS DECIMAL(18,6)) AS DOUBLE) AS decayed_score
        |FROM t GROUP BY user_id ORDER BY user_id""".stripMargin,
    "q117_sorted_neighborhood" ->
      """WITH names AS (SELECT p_name, MIN(p_partkey) AS p_partkey FROM part GROUP BY p_name),
        |canon AS (SELECT DISTINCT p_partkey AS id, p_name AS s FROM names),
        |r AS (SELECT id, s, row_number() OVER (ORDER BY s, id) AS rk FROM canon),
        |p AS (SELECT a.id AS ia, a.s AS sa, b.id AS ib, b.s AS sb
        |      FROM r a JOIN r b ON b.rk BETWEEN a.rk + 1 AND a.rk + 3)
        |SELECT least(ia, ib) AS id_a, greatest(ia, ib) AS id_b,
        |  CAST(levenshtein(sa, sb) AS INTEGER) AS dist
        |FROM p WHERE levenshtein(sa, sb) <= 3
        |ORDER BY id_a, id_b""".stripMargin,
    "q118_event_pattern" ->
      """WITH s AS (SELECT user_id, string_agg(event_type, '>' ORDER BY ts, event_id) AS event_seq
        |           FROM events GROUP BY user_id)
        |SELECT user_id, event_seq FROM s
        |WHERE regexp_matches(event_seq, 'signup(>[a-z]+)*>purchase')
        |ORDER BY user_id""".stripMargin,
    "q119_weighted_sample" ->
      // A-ES keys: u from md5 hex (DuckDB parses '0x…' string casts; Spark
      // conv(…,16,10)), one ln + one division — bit-equal ranking, and the
      // key itself never reaches the output
      """WITH c AS (SELECT lang, doc_id, n_chars,
        |    CAST(CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) AS DOUBLE) AS h
        |  FROM documents WHERE n_chars > 0),
        |k AS (SELECT lang, doc_id, n_chars,
        |    row_number() OVER (PARTITION BY lang
        |      ORDER BY -ln((h + 1.0) / 4294967296.0) / n_chars, doc_id) AS sample_rank
        |  FROM c)
        |SELECT lang, doc_id, n_chars, sample_rank FROM k
        |WHERE sample_rank <= 10 ORDER BY lang, sample_rank""".stripMargin,
    "q120_feature_hash" ->
      """WITH t AS (SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS tok
        |           FROM documents)
        |SELECT doc_id,
        |  CAST(CAST('0x' || substring(md5(tok), 1, 8) AS BIGINT) % 64 AS BIGINT) AS dim,
        |  COUNT(*) AS weight
        |FROM t GROUP BY 1, 2 ORDER BY doc_id, dim""".stripMargin,
    "q121_token_entropy" ->
      """WITH c AS (SELECT doc_id, tok, COUNT(*) AS c
        |  FROM (SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS tok FROM documents)
        |  GROUP BY 1, 2),
        |w AS (SELECT doc_id, c, CAST(SUM(c) OVER (PARTITION BY doc_id) AS BIGINT) AS n FROM c),
        |t AS (SELECT doc_id, n,
        |        CAST((c / CAST(n AS DOUBLE)) * ln(c / CAST(n AS DOUBLE)) AS DECIMAL(28,9)) AS term
        |      FROM w)
        |SELECT doc_id, ANY_VALUE(n) AS n_tokens,
        |  CAST(CAST(-CAST(SUM(term) AS DOUBLE) AS DECIMAL(18,6)) AS DOUBLE) AS entropy
        |FROM t GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "q122_bigram_novelty" ->
      """WITH t AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS toks FROM documents),
        |dt AS (SELECT doc_id, toks[CAST(i AS INT)] || ' ' || toks[CAST(i AS INT) + 1] AS bg
        |       FROM t, unnest(range(1, len(toks))) AS u(i)
        |       WHERE len(toks) >= 2),
        |s AS (SELECT bg, COUNT(*) AS nd FROM (SELECT DISTINCT doc_id, bg FROM dt) GROUP BY bg)
        |SELECT dt.doc_id, COUNT(*) AS n_bigrams,
        |  COUNT(CASE WHEN s.nd = 1 THEN 1 END) AS n_unique,
        |  CAST(CAST(CAST(COUNT(CASE WHEN s.nd = 1 THEN 1 END) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
        |    AS DECIMAL(18,6)) AS DOUBLE) AS novelty
        |FROM dt JOIN s USING (bg)
        |GROUP BY dt.doc_id ORDER BY dt.doc_id""".stripMargin,
    "q123_corpus_pipeline" ->
      // q66's filter+dedup CTEs → q44's hash-split boundary → q50's packing
      """WITH m AS (
        |  SELECT doc_id, source, text,
        |    len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS n_tokens,
        |    len(list_distinct(regexp_extract_all(lower(text), '[a-z0-9]+'))) AS n_distinct,
        |    length(regexp_replace(text, '[^\p{L}]', '', 'g')) AS alpha_chars
        |  FROM documents),
        |kept AS (
        |  SELECT doc_id, source, text FROM m
        |  WHERE n_tokens >= 5
        |    AND CAST(CASE WHEN n_tokens > 0 THEN 1.0 - CAST(n_distinct AS DOUBLE) / n_tokens ELSE 1.0 END AS DECIMAL(18,4)) <= CAST(0.9 AS DECIMAL(18,4))
        |    AND alpha_chars >= 20),
        |ranked AS (
        |  SELECT doc_id, source, text,
        |    row_number() OVER (PARTITION BY md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g')))
        |                       ORDER BY doc_id) AS rk
        |  FROM kept),
        |train AS (
        |  SELECT doc_id, source, text FROM ranked
        |  WHERE rk = 1 AND substring(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'cd'),
        |t AS (SELECT doc_id, source, len(regexp_extract_all(text, '\S+')) AS n_tok FROM train),
        |c AS (
        |  SELECT doc_id, source, n_tok,
        |    COALESCE(SUM(n_tok) OVER (PARTITION BY source ORDER BY doc_id
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prior
        |  FROM t)
        |SELECT doc_id, source, n_tok, CAST(floor(prior / 512.0) AS BIGINT) AS seq_id
        |FROM c ORDER BY source, doc_id""".stripMargin,
    "q124_gini" ->
      """WITH r AS (SELECT event_type, CAST(value AS DECIMAL(18,2)) AS x,
        |    CAST(row_number() OVER (PARTITION BY event_type ORDER BY value, event_id) AS BIGINT) AS i
        |  FROM events WHERE value > 0),
        |g AS (SELECT event_type, COUNT(*) AS n,
        |    CAST(SUM(i * x) AS DECIMAL(18,2)) AS s1,
        |    CAST(SUM(x) AS DECIMAL(18,2)) AS sx
        |  FROM r GROUP BY 1)
        |SELECT event_type, n,
        |  CAST(CAST((2.0 * CAST(s1 AS DOUBLE)) / (CAST(n AS DOUBLE) * CAST(sx AS DOUBLE))
        |    - (CAST(n AS DOUBLE) + 1.0) / CAST(n AS DOUBLE) AS DECIMAL(18,6)) AS DOUBLE) AS gini
        |FROM g ORDER BY event_type""".stripMargin,
    "q125_dup_spans" ->
      // q99's frame CTEs + the q38 sessionize idiom for span merging
      """WITH w AS (
        |  SELECT DISTINCT doc_id, CAST(p AS INT) AS p, md5(substr(text, CAST(p AS INT), 40)) AS h
        |  FROM documents, unnest(range(1, len(text) - 38, 10)) AS u(p)
        |  WHERE len(text) >= 40),
        |ok AS (SELECT h FROM (SELECT DISTINCT doc_id, h FROM w) GROUP BY h
        |       HAVING COUNT(*) BETWEEN 2 AND 50),
        |hits AS (SELECT DISTINCT doc_id, p FROM w JOIN ok USING (h)),
        |flagged AS (
        |  SELECT doc_id, p,
        |    COUNT(CASE WHEN prev_max_end IS NULL OR p > prev_max_end THEN 1 END)
        |      OVER (PARTITION BY doc_id ORDER BY p
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS grp
        |  FROM (SELECT doc_id, p,
        |          MAX(p + 40) OVER (PARTITION BY doc_id ORDER BY p
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_max_end
        |        FROM hits)),
        |spans AS (SELECT doc_id, grp, CAST(MAX(p) + 40 - MIN(p) AS BIGINT) AS chars
        |          FROM flagged GROUP BY 1, 2)
        |SELECT doc_id, COUNT(*) AS n_spans, CAST(SUM(chars) AS BIGINT) AS dup_chars
        |FROM spans GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "q126_setsim_join" ->
      // identical truth set to q24 (same shingles, same threshold): the
      // prefix-filtered exact join and the LSH+verify path must agree
      jaccardTruthSql("0.5"),
    "q127_ohlc" ->
      // open/close via rank-1 rows under the same (ts, event_id) total
      // order the Spark min_by/max_by struct keys encode
      """WITH r AS (
        |  SELECT user_id, date_trunc('hour', ts) AS bucket, value,
        |    row_number() OVER (PARTITION BY user_id, date_trunc('hour', ts)
        |      ORDER BY ts, event_id) AS rk_a,
        |    row_number() OVER (PARTITION BY user_id, date_trunc('hour', ts)
        |      ORDER BY ts DESC, event_id DESC) AS rk_d
        |  FROM events)
        |SELECT user_id, bucket,
        |  MAX(CASE WHEN rk_a = 1 THEN value END) AS open,
        |  MAX(value) AS high, MIN(value) AS low,
        |  MAX(CASE WHEN rk_d = 1 THEN value END) AS close,
        |  COUNT(*) AS n_events
        |FROM r GROUP BY user_id, bucket
        |ORDER BY user_id, bucket""".stripMargin,
    "q128_impute" ->
      // same decimal-sum/one-double-division mean recipe as the Spark side;
      // group means join back LEFT so all-null groups fall to the global
      """WITH e AS (
        |  SELECT user_id, event_id,
        |    CASE WHEN event_type = 'click' THEN NULL ELSE value END AS value
        |  FROM events),
        |g AS (
        |  SELECT user_id,
        |    CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / COUNT(value) AS grp_mean
        |  FROM e GROUP BY user_id),
        |gl AS (
        |  SELECT CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / COUNT(value) AS glob_mean
        |  FROM e)
        |SELECT e.user_id, e.event_id,
        |  COALESCE(e.value, g.grp_mean, gl.glob_mean) AS value,
        |  e.value IS NULL AS imputed
        |FROM e LEFT JOIN g USING (user_id) CROSS JOIN gl
        |ORDER BY event_id""".stripMargin,
    "q129_rolling_median" ->
      // DuckDB's windowed median over DOUBLE is quantile_cont — the same
      // (a+b)/2 interpolation the Spark frame-sort computes
      """SELECT user_id, event_id, value,
        |  median(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS roll_median
        |FROM events ORDER BY event_id""".stripMargin,
    "q130_jaro_winkler" ->
      """WITH p AS (SELECT p_name, MIN(p_partkey) AS id FROM part GROUP BY p_name)
        |SELECT a.id AS id_a, b.id AS id_b,
        |  jaro_winkler_similarity(a.p_name, b.p_name) AS jw
        |FROM p a JOIN p b
        |  ON substr(a.p_name, 1, 4) = substr(b.p_name, 1, 4) AND a.id < b.id
        |WHERE jaro_winkler_similarity(a.p_name, b.p_name) >= 0.85
        |ORDER BY id_a, id_b""".stripMargin,
    "q131_bloom_semi" ->
      // the bloom prune is a pure physical optimization: logical semantics
      // are a plain semi join, so the oracle needs no bloom at all
      """SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
        |WHERE l_orderkey IN (SELECT o_orderkey FROM orders WHERE o_orderkey % 97 = 0)
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "q02_job_by_id" ->
      "SELECT * FROM orders WHERE o_orderkey = 4242",
    "q03_contacts_listing" ->
      "SELECT c_custkey, c_name, c_acctbal, c_mktsegment FROM customer ORDER BY c_acctbal DESC, c_custkey",
    "q04_count_jobs" ->
      "SELECT o_custkey, COUNT(*) AS n_jobs FROM orders GROUP BY o_custkey ORDER BY o_custkey",
    "q05_issue_counts" ->
      """SELECT o_custkey, COUNT(*) AS total_cnt,
        | COUNT(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS resolved_cnt,
        | COUNT(CASE WHEN o_orderstatus <> 'F' THEN 1 END) AS unresolved_cnt
        |FROM orders GROUP BY o_custkey ORDER BY o_custkey""".stripMargin,
    "q06_issues_join_jobs" ->
      """SELECT l_orderkey, l_linenumber, l_partkey, l_quantity, o_custkey, o_orderstatus
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE o_custkey = 7 ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "q07_threeway_join" ->
      """SELECT o_orderkey, o_orderstatus, l_linenumber, p_name, l_quantity
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN part ON l_partkey = p_partkey
        |WHERE o_orderpriority = '1-URGENT'
        |ORDER BY o_orderkey, l_linenumber""".stripMargin,
    "q08_group_rollup" ->
      """SELECT n_name,
        | CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DECIMAL(18,4)) AS DOUBLE) AS revenue,
        | COUNT(*) AS n_items
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY n_name ORDER BY n_name""".stripMargin,
    "q09_contact_by_email" ->
      "SELECT c_custkey, c_name, c_acctbal FROM customer WHERE c_name = 'Customer#000000042'",
    "q10_duplicate_key" ->
      """SELECT user_id, event_type, COUNT(*) AS dup_count FROM events
        |GROUP BY user_id, event_type HAVING COUNT(*) > 1 ORDER BY user_id, event_type""".stripMargin,
    "q11_invalid_email" ->
      s"""WITH c AS (SELECT c_custkey, $emailSql AS email FROM customer)
        |SELECT c_custkey, email FROM c
        |WHERE NOT regexp_matches(email, '^[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+[.][A-Za-z]{2,}$$')
        |ORDER BY c_custkey""".stripMargin,
    "q12_existing_email" ->
      s"""WITH contacts AS (SELECT c_custkey, $emailSql AS email FROM customer),
        | valid AS (SELECT email FROM contacts
        |   WHERE regexp_matches(email, '^[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+[.][A-Za-z]{2,}$$')),
        | staging AS ($stagingSql)
        |SELECT s.o_orderkey, s.email FROM staging s
        |WHERE NOT EXISTS (SELECT 1 FROM valid v WHERE v.email = s.email)
        |ORDER BY s.o_orderkey""".stripMargin,
    "q13_missing_required" ->
      """WITH c AS (SELECT c_custkey,
        |  CASE WHEN c_custkey % 13 = 0 THEN NULL
        |       WHEN c_custkey % 17 = 0 THEN '   '
        |       ELSE c_name END AS first_name,
        |  CASE WHEN c_custkey % 19 = 0 THEN '' ELSE c_mktsegment END AS company
        | FROM customer)
        |SELECT c_custkey, first_name, company FROM c
        |WHERE first_name IS NULL OR trim(first_name) = '' OR company IS NULL OR trim(company) = ''
        |ORDER BY c_custkey""".stripMargin,
    "q14_file_hash_dedup" ->
      """SELECT md5(props) AS file_hash, MIN(event_id) AS first_id, COUNT(*) AS n_uploads
        |FROM events GROUP BY md5(props) HAVING COUNT(*) > 1 ORDER BY file_hash""".stripMargin,
    "q15_row_hash" ->
      """SELECT l_orderkey, l_linenumber,
        | sha256(concat_ws('|', CAST(l_orderkey AS VARCHAR), CAST(l_linenumber AS VARCHAR),
        |   CAST(CAST(l_quantity AS DECIMAL(18,2)) AS VARCHAR), l_returnflag)) AS staging_row_hash
        |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "q16_status_update" ->
      """SELECT o_orderkey, TRUE AS resolved, 'admin' AS issue_resolved_by, o_orderdate AS issue_resolved_at
        |FROM orders WHERE o_orderstatus = 'P' ORDER BY o_orderkey""".stripMargin,
    "q17_conditional_delete" ->
      "SELECT * FROM orders WHERE o_orderstatus NOT IN ('P') ORDER BY o_orderkey",
    "q18_topn_per_group" ->
      """SELECT user_id, event_id, event_type, value FROM events
        |QUALIFY row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) <= 3
        |ORDER BY user_id, event_id""".stripMargin,
    "q19_events_agg" ->
      """SELECT date_trunc('hour', ts) AS hour, event_type, COUNT(*) AS n_events,
        | CAST(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE) AS total_value
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q20_dedup_exact" ->
      """SELECT md5(text) AS content_hash, MIN(doc_id) AS keep_id, COUNT(*) AS n_copies
        |FROM documents GROUP BY md5(text) ORDER BY keep_id""".stripMargin,
    "q21_token_count" ->
      """SELECT doc_id,
        | CAST(len(regexp_extract_all(text, '\S+')) AS INTEGER) AS n_ws_tokens,
        | CAST(len(regexp_extract_all(text, '[\p{L}]+|[\p{N}]+|[^\s\p{L}\p{N}]')) AS INTEGER) AS n_bpe_tokens
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q22_quality_score" ->
      """WITH t AS (SELECT doc_id, regexp_extract_all(text, '\S+') AS toks,
        |   length(regexp_replace(text, '[^\p{L}]', '', 'g')) AS alpha FROM documents),
        | u AS (SELECT doc_id, toks, alpha,
        |   len(list_filter(toks, tk -> tk IN ('the','a','an','of','and','to','in','is','it','that'))) AS nstop
        | FROM t)
        |SELECT doc_id,
        | CAST(len(toks) AS INTEGER) AS n_tokens,
        | CAST(alpha AS INTEGER) AS alpha_chars,
        | CAST(nstop AS INTEGER) AS n_stopwords,
        | CAST(CAST(CAST(alpha AS DOUBLE) / len(toks) AS DECIMAL(18,4)) AS DOUBLE) AS mean_token_len,
        | CAST(CAST(CAST(nstop AS DOUBLE) / len(toks) AS DECIMAL(18,4)) AS DOUBLE) AS stopword_ratio,
        | CAST((CASE WHEN len(toks) BETWEEN 5 AND 100000 THEN 1 ELSE 0 END)
        |    + (CASE WHEN nstop >= 1 THEN 1 ELSE 0 END)
        |    + (CASE WHEN alpha >= 20 THEN 1 ELSE 0 END) AS INTEGER) AS quality_score
        |FROM u ORDER BY doc_id""".stripMargin,
    "q23_lang_id" ->
      """WITH t AS (SELECT doc_id, regexp_extract_all(lower(text), '\S+') AS toks FROM documents),
        | s AS (SELECT doc_id,
        |  len(list_filter(toks, tk -> tk IN ('der','die','das','und','ist','ein','eine','zu','den','von'))) AS s_de,
        |  len(list_filter(toks, tk -> tk IN ('the','a','an','of','and','to','in','is','it','that'))) AS s_en,
        |  len(list_filter(toks, tk -> tk IN ('el','la','de','que','y','en','un','una','es','los'))) AS s_es,
        |  len(list_filter(toks, tk -> tk IN ('le','la','de','et','un','une','est','que','les','des'))) AS s_fr
        | FROM t)
        |SELECT doc_id,
        | CASE WHEN greatest(s_de, s_en, s_es, s_fr) = 0 THEN 'und'
        |      WHEN s_de >= s_en AND s_de >= s_es AND s_de >= s_fr THEN 'de'
        |      WHEN s_en >= s_es AND s_en >= s_fr THEN 'en'
        |      WHEN s_es >= s_fr THEN 'es'
        |      ELSE 'fr' END AS lang_pred,
        | CAST(greatest(s_de, s_en, s_es, s_fr) AS INTEGER) AS lang_score
        |FROM s ORDER BY doc_id""".stripMargin,
    "q29_fingerprint" ->
      """SELECT doc_id, md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))) AS fingerprint
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q32_header_map" ->
      """WITH h AS (SELECT * FROM (VALUES ('E-Mail'), ('email_address'), ('NOME'), ('Sobrenome'),
        |   ('empresa'), ('  First Name  '), ('Custom Field!'), ('org')) t(raw)),
        | n AS (SELECT raw, lower(trim(raw)) AS c FROM h)
        |SELECT raw, CASE
        | WHEN c IN ('email','e-mail','e_mail','email_address','mail') THEN 'email'
        | WHEN c IN ('first_name','firstname','first name','nome','fname','given_name') THEN 'first_name'
        | WHEN c IN ('last_name','lastname','last name','sobrenome','lname','surname') THEN 'last_name'
        | WHEN c IN ('company','empresa','organization','org','company_name') THEN 'company'
        | ELSE trim(regexp_replace(c, '[^a-z0-9]+', '_', 'g'), '_') END AS mapped
        |FROM n ORDER BY raw""".stripMargin,
    "q33_merge_updates" ->
      """SELECT c_custkey, c_name, c_nationkey, c_acctbal,
        | CASE WHEN c_custkey % 10 = 0 THEN 'UPDATED' ELSE c_mktsegment END AS c_mktsegment
        |FROM customer ORDER BY c_custkey""".stripMargin,
    "q35_percentiles" ->
      """SELECT l_returnflag,
        | CAST(CAST(quantile_cont(l_quantity, 0.5) AS DECIMAL(18,2)) AS DOUBLE) AS p50_qty,
        | CAST(CAST(quantile_cont(l_quantity, 0.9) AS DECIMAL(18,2)) AS DOUBLE) AS p90_qty,
        | COUNT(*) AS n_rows
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "q36_distinct_users" ->
      """SELECT event_type, COUNT(DISTINCT user_id) AS n_users, COUNT(*) AS n_events
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q37_running_total" ->
      """SELECT user_id, event_id,
        | CAST(CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER w AS DECIMAL(18,2)) AS DOUBLE) AS running_value,
        | CAST(row_number() OVER w AS INTEGER) AS event_seq
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
        |             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |ORDER BY user_id, event_id""".stripMargin,
    "q38_sessionize" ->
      """SELECT user_id, event_id,
        | COUNT(CASE WHEN prev_ts IS NULL
        |            OR CAST(floor(epoch(ts)) AS BIGINT) - CAST(floor(epoch(prev_ts)) AS BIGINT) > 1800
        |            THEN 1 END)
        |   OVER (PARTITION BY user_id ORDER BY ts, event_id
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
        |FROM (SELECT user_id, event_id, ts,
        |        lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
        |      FROM events)
        |ORDER BY user_id, event_id""".stripMargin,
    "q40_asof_join" ->
      """WITH j AS (SELECT o_custkey, o_orderdate, max(o_orderkey) AS o_orderkey
        |           FROM orders GROUP BY 1, 2)
        |SELECT e.event_id, e.user_id, j.o_orderkey
        |FROM events e ASOF JOIN j ON e.user_id = j.o_custkey AND e.ts >= j.o_orderdate
        |ORDER BY e.event_id""".stripMargin,
    "q27_ann_bruteforce" ->
      """SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
        | CAST(row_number() OVER (PARTITION BY a.vec_id
        |   ORDER BY list_cosine_similarity(a.embedding, b.embedding) DESC, b.vec_id) AS INTEGER) AS rank
        |FROM embeddings a JOIN embeddings b ON b.vec_id <> a.vec_id
        |WHERE a.vec_id IN (0, 1, 2, 3, 4)
        |QUALIFY rank <= 5
        |ORDER BY query_id, rank""".stripMargin,
    "q31_csv_ingest" ->
      """WITH u1(email, first_name, company) AS (VALUES
        |   ('ana@example.com', 'Ana', 'Acme'), ('bob@example.com', 'Bob', 'Globex')),
        | u2(email, last_name, company) AS (VALUES ('carol@example.com', 'Silva', 'Café Ltda')),
        | s1 AS (SELECT email, first_name, company,
        |   sha256(concat_ws('|', coalesce(company, chr(1)), coalesce(email, chr(1)),
        |     coalesce(first_name, chr(1)))) AS staging_row_hash,
        |   CAST(NULL AS VARCHAR) AS last_name FROM u1),
        | s2 AS (SELECT email, CAST(NULL AS VARCHAR) AS first_name, company,
        |   sha256(concat_ws('|', coalesce(company, chr(1)), coalesce(email, chr(1)),
        |     coalesce(last_name, chr(1)))) AS staging_row_hash,
        |   last_name FROM u2)
        |SELECT * FROM s1 UNION ALL SELECT * FROM s2 ORDER BY email""".stripMargin,
    "q41_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        | CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE) AS sum_qty,
        | CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE) AS sum_base_price,
        | CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DECIMAL(18,4)) AS DOUBLE) AS sum_disc_price,
        | CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2))) * (1 + CAST(l_tax AS DECIMAL(18,2)))) AS DECIMAL(18,6)) AS DOUBLE) AS sum_charge,
        | CAST(CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS DECIMAL(18,4)) AS DOUBLE) AS avg_qty,
        | COUNT(*) AS count_order
        |FROM lineitem WHERE l_shipdate <= TIMESTAMP '2000-01-01 00:00:00'
        |GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "q42_shipping_priority" ->
      """SELECT o_orderkey, o_orderdate,
        | CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DECIMAL(18,4)) AS DOUBLE) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '1998-06-01 00:00:00'
        |  AND l_shipdate > TIMESTAMP '1998-06-01 00:00:00'
        |GROUP BY o_orderkey, o_orderdate
        |ORDER BY revenue DESC, o_orderkey LIMIT 10""".stripMargin,
    "q43_local_supplier_volume" ->
      """SELECT n_name,
        | CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DECIMAL(18,4)) AS DOUBLE) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |  AND o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
        |  AND o_orderdate < TIMESTAMP '1999-01-01 00:00:00'
        |GROUP BY n_name ORDER BY revenue DESC, n_name""".stripMargin,
    "q44_train_split" ->
      """WITH s AS (SELECT doc_id, substring(md5(CAST(doc_id AS VARCHAR)), 1, 2) AS b FROM documents)
        |SELECT CASE WHEN b < 'cd' THEN 'train' WHEN b < 'e6' THEN 'val' ELSE 'test' END AS split,
        |       COUNT(*) AS n_docs
        |FROM s GROUP BY 1 ORDER BY split""".stripMargin,
    "q45_dataset_mix" ->
      """SELECT doc_id, source FROM documents
        |WHERE substring(md5(CAST(doc_id AS VARCHAR)), 1, 2) <
        |  CASE source WHEN 'src0' THEN 'zz' WHEN 'src1' THEN '80' WHEN 'src2' THEN '00' ELSE '40' END
        |ORDER BY doc_id""".stripMargin,
    "q46_repetition" ->
      """WITH t AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS toks FROM documents)
        |SELECT doc_id, len(toks) AS n_tokens, len(list_distinct(toks)) AS n_distinct,
        |  CAST(CAST(1.0 - CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) AS DECIMAL(18,4)) AS DOUBLE) AS dup_ratio
        |FROM t ORDER BY doc_id""".stripMargin,
    "q47_pii_redact" ->
      """SELECT c_custkey,
        |  regexp_replace(regexp_replace(c_name, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |                 '\d+', '<NUM>', 'g') AS redacted,
        |  len(regexp_extract_all(c_name, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))
        |    + len(regexp_extract_all(regexp_replace(c_name, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'), '\d+')) AS n_redactions
        |FROM customer ORDER BY c_custkey""".stripMargin,
    "q48_vocab_topk" ->
      """SELECT tok, COUNT(*) AS n
        |FROM (SELECT unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS tok FROM documents)
        |GROUP BY tok ORDER BY n DESC, tok LIMIT 50""".stripMargin,
    "q49_tfidf" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS tok FROM documents
        |), tf AS (SELECT doc_id, tok, COUNT(*) AS tf FROM toks GROUP BY doc_id, tok),
        |df AS (SELECT tok, COUNT(*) AS df FROM tf GROUP BY tok),
        |n AS (SELECT COUNT(*) AS n_docs FROM documents),
        |ranked AS (
        |  SELECT tf.doc_id, tf.tok,
        |    CAST(tf.tf AS DOUBLE) * ln(CAST(n.n_docs AS DOUBLE) / df.df) AS score,
        |    row_number() OVER (PARTITION BY tf.doc_id
        |                       ORDER BY CAST(tf.tf AS DOUBLE) * ln(CAST(n.n_docs AS DOUBLE) / df.df) DESC, tf.tok) AS rk
        |  FROM tf JOIN df USING (tok) CROSS JOIN n)
        |SELECT doc_id, tok AS top_term, CAST(CAST(score AS DECIMAL(18,6)) AS DOUBLE) AS tfidf
        |FROM ranked WHERE rk = 1 ORDER BY doc_id""".stripMargin,
    "q88_unigram_ll" ->
      """WITH dt AS (SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS tok FROM documents),
        |c AS (SELECT tok, COUNT(*) AS c FROM dt GROUP BY tok),
        |n AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_total FROM dt),
        |lp AS (SELECT doc_id, CAST(ln(c.c / n.n_total) AS DECIMAL(28,9)) AS lp
        |       FROM dt JOIN c USING (tok) CROSS JOIN n)
        |SELECT doc_id, COUNT(*) AS n_tokens,
        |  CAST(CAST(CAST(SUM(lp) AS DOUBLE) / COUNT(*) AS DECIMAL(18,6)) AS DOUBLE) AS avg_logprob
        |FROM lp GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "q50_pack_sequences" ->
      """WITH t AS (
        |  SELECT doc_id, source, len(regexp_extract_all(text, '\S+')) AS n_tok FROM documents
        |), c AS (
        |  SELECT doc_id, source, n_tok,
        |    COALESCE(SUM(n_tok) OVER (PARTITION BY source ORDER BY doc_id
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prior
        |  FROM t)
        |SELECT doc_id, source, n_tok, CAST(floor(prior / 512.0) AS BIGINT) AS seq_id
        |FROM c ORDER BY source, doc_id""".stripMargin,
    "q51_json_extract" ->
      """SELECT event_type, CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q85_chunking" ->
      """WITH n AS (
        |  SELECT doc_id, text, length(coalesce(text, '')) AS len,
        |    CASE WHEN length(coalesce(text, '')) <= 120 THEN 1
        |         ELSE CAST(ceil(CAST(length(coalesce(text, '')) - 120 AS DOUBLE) / 100) AS BIGINT) + 1 END AS n_chunks
        |  FROM documents),
        |idx AS (
        |  SELECT doc_id, text, CAST(u.i AS INTEGER) AS chunk_idx
        |  FROM n, unnest(range(0, n_chunks)) AS u(i))
        |SELECT doc_id, chunk_idx,
        |       substring(coalesce(text, ''), chunk_idx * 100 + 1, 120) AS chunk_text
        |FROM idx ORDER BY doc_id, chunk_idx""".stripMargin,
    "q82_cooccur_pmi" ->
      """WITH dt AS (
        |  SELECT DISTINCT doc_id, tok FROM (
        |    SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS tok FROM documents)
        |  WHERE tok IN ('scan', 'table', 'hash', 'join', 'sort')),
        |n AS (SELECT COUNT(*) AS n_docs FROM documents),
        |marg AS (SELECT tok, COUNT(*) AS n_tok FROM dt GROUP BY tok),
        |pairs AS (
        |  SELECT a.tok AS tok_a, b.tok AS tok_b, COUNT(*) AS n_both
        |  FROM dt a JOIN dt b ON a.doc_id = b.doc_id AND a.tok < b.tok
        |  GROUP BY 1, 2)
        |SELECT tok_a, tok_b, n_both,
        |  CAST(CAST(ln(CAST(n.n_docs * n_both AS DOUBLE) / CAST(ma.n_tok * mb.n_tok AS DOUBLE)) AS DECIMAL(18,4)) AS DOUBLE) AS pmi
        |FROM pairs
        |JOIN marg ma ON ma.tok = tok_a
        |JOIN marg mb ON mb.tok = tok_b
        |CROSS JOIN n
        |ORDER BY tok_a, tok_b""".stripMargin,
    "q79_normalize" ->
      ("""SELECT doc_id,
        |  lower(translate(regexp_replace(regexp_replace(trim(text || '  CAFÉ  naïve  ÑOÑO'), '\s+', ' ', 'g'), '[\x00-\x1F\x7F]', '', 'g'),
        |    '""" + graft.operators.Curation.AccentSrc + """', '""" + graft.operators.Curation.AccentDst + """')) AS norm_text
        |FROM documents ORDER BY doc_id""").stripMargin,
    "q80_nested_export" ->
      """SELECT o_custkey, COUNT(*) AS n_orders,
        |       array_to_string(array_agg(o_orderkey ORDER BY o_orderkey), ',') AS order_keys
        |FROM orders GROUP BY o_custkey ORDER BY o_custkey""".stripMargin,
    "q78_set_ops" ->
      """WITH a AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'click'),
        |b AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase')
        |SELECT
        |  (SELECT COUNT(*) FROM (SELECT user_id FROM a INTERSECT SELECT user_id FROM b)) AS n_both,
        |  (SELECT COUNT(*) FROM (SELECT user_id FROM a EXCEPT SELECT user_id FROM b)) AS n_a_only,
        |  (SELECT COUNT(*) FROM (SELECT user_id FROM b EXCEPT SELECT user_id FROM a)) AS n_b_only""".stripMargin,
    "q84_lag_features" ->
      // ts cast to µs so tie-breaking matches Spark's nanos→µs truncation
      """WITH v AS (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts,
        |                  CAST(value AS DECIMAL(18,2)) AS value FROM events)
        |SELECT user_id, event_id, CAST(value AS DOUBLE) AS value,
        |  CAST(lag(value, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS DOUBLE) AS lag1,
        |  CAST(lag(value, 2) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS DOUBLE) AS lag2,
        |  CAST(lag(value, 3) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS DOUBLE) AS lag3
        |FROM v ORDER BY user_id, event_id""".stripMargin,
    "q83_anomalies" ->
      """WITH s AS (
        |  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
        |         CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS sx,
        |         CAST(SUM(CAST(value AS DECIMAL(18,2)) * CAST(value AS DECIMAL(18,2))) AS DECIMAL(18,4)) AS sxx
        |  FROM events GROUP BY 1),
        |z AS (
        |  SELECT e.event_type, e.value,
        |    CAST(CAST((CAST(CAST(e.value AS DECIMAL(18,2)) AS DOUBLE) - CAST(sx AS DOUBLE) / n)
        |      / sqrt(CAST(n * sxx - sx * sx AS DOUBLE) / (CAST(n AS DOUBLE) * n)) AS DECIMAL(18,4)) AS DOUBLE) AS z
        |  FROM events e JOIN s ON e.event_type = s.event_type)
        |SELECT event_type, value, z FROM z WHERE abs(z) > 3.0
        |ORDER BY event_type, value""".stripMargin,
    "q76_histogram" ->
      """WITH b AS (
        |  SELECT CAST(least(greatest(floor((CAST(o_totalprice AS DOUBLE) - 0.0) / 50000.0), 0.0), 11.0) AS BIGINT) AS bin
        |  FROM orders)
        |SELECT bin, CAST(CAST(0.0 + bin * 50000.0 AS DECIMAL(18,2)) AS DOUBLE) AS bin_lo, COUNT(*) AS n_rows
        |FROM b GROUP BY bin ORDER BY bin""".stripMargin,
    "q77_corr" ->
      """WITH e AS (
        |  SELECT event_type, CAST(value AS DECIMAL(18,2)) AS x,
        |         CAST(CAST(json_extract_string(props, '$.k') AS BIGINT) AS DECIMAL(18,2)) AS y
        |  FROM events),
        |s AS (
        |  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
        |         CAST(SUM(x) AS DECIMAL(18,2)) AS sx, CAST(SUM(y) AS DECIMAL(18,2)) AS sy,
        |         CAST(SUM(x * y) AS DECIMAL(18,4)) AS sxy,
        |         CAST(SUM(x * x) AS DECIMAL(18,4)) AS sxx,
        |         CAST(SUM(y * y) AS DECIMAL(18,4)) AS syy
        |  FROM e GROUP BY 1)
        |SELECT event_type, n,
        |  CAST(CAST(CAST(n * sxy - sx * sy AS DOUBLE)
        |       / sqrt(CAST(n * sxx - sx * sx AS DOUBLE) * CAST(n * syy - sy * sy AS DOUBLE))
        |  AS DECIMAL(18,4)) AS DOUBLE) AS corr
        |FROM s ORDER BY event_type""".stripMargin,
    "q74_profile" ->
      """SELECT 'o_custkey' AS col_name, COUNT(*) - COUNT(o_custkey) AS n_null,
        |       CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_distinct,
        |       CAST(MIN(o_custkey) AS VARCHAR) AS min_value, CAST(MAX(o_custkey) AS VARCHAR) AS max_value
        |FROM orders
        |UNION ALL
        |SELECT 'o_orderkey', COUNT(*) - COUNT(o_orderkey), CAST(COUNT(DISTINCT o_orderkey) AS BIGINT),
        |       CAST(MIN(o_orderkey) AS VARCHAR), CAST(MAX(o_orderkey) AS VARCHAR) FROM orders
        |UNION ALL
        |SELECT 'o_orderpriority', COUNT(*) - COUNT(o_orderpriority), CAST(COUNT(DISTINCT o_orderpriority) AS BIGINT),
        |       CAST(MIN(o_orderpriority) AS VARCHAR), CAST(MAX(o_orderpriority) AS VARCHAR) FROM orders
        |UNION ALL
        |SELECT 'o_orderstatus', COUNT(*) - COUNT(o_orderstatus), CAST(COUNT(DISTINCT o_orderstatus) AS BIGINT),
        |       CAST(MIN(o_orderstatus) AS VARCHAR), CAST(MAX(o_orderstatus) AS VARCHAR) FROM orders
        |ORDER BY col_name""".stripMargin,
    "q75_scd2" ->
      """WITH ordered AS (
        |  SELECT o_custkey, o_orderstatus, o_orderdate,
        |    lag(o_orderstatus) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderstatus) AS prev
        |  FROM orders),
        |changed AS (
        |  SELECT o_custkey, o_orderstatus, o_orderdate FROM ordered
        |  WHERE prev IS NULL OR prev <> o_orderstatus)
        |SELECT o_custkey, o_orderstatus, o_orderdate AS valid_from,
        |  lead(o_orderdate) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderstatus) AS valid_to
        |FROM changed ORDER BY o_custkey, valid_from""".stripMargin,
    "q73_interval_overlap" ->
      """WITH a AS (
        |  SELECT o_orderkey, o_orderdate AS s, o_orderdate + INTERVAL 30 DAY AS e
        |  FROM orders WHERE o_orderkey % 499 = 0),
        |b AS (
        |  SELECT o_orderkey, o_orderdate AS s, o_orderdate + INTERVAL 45 DAY AS e
        |  FROM orders WHERE o_orderkey % 503 = 0)
        |SELECT a.o_orderkey AS key_a, b.o_orderkey AS key_b
        |FROM a JOIN b ON a.s < b.e AND b.s < a.e
        |ORDER BY key_a, key_b""".stripMargin,
    "q70_cube" ->
      """SELECT coalesce(o_orderstatus, 'ALL') AS status,
        |       coalesce(CAST(year(o_orderdate) AS VARCHAR), 'ALL') AS o_year,
        |       COUNT(*) AS n_orders
        |FROM orders
        |GROUP BY CUBE(o_orderstatus, year(o_orderdate))
        |ORDER BY status, o_year""".stripMargin,
    "q71_deciles" ->
      """SELECT o_orderkey, CAST(year(o_orderdate) AS INTEGER) AS o_year,
        |       CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS total,
        |       CAST(ntile(10) OVER (PARTITION BY year(o_orderdate)
        |                       ORDER BY CAST(o_totalprice AS DECIMAL(18,2)), o_orderkey) AS INTEGER) AS decile
        |FROM orders ORDER BY o_year, decile, o_orderkey""".stripMargin,
    "q72_above_avg" ->
      """WITH t AS (
        |  SELECT o_orderkey, o_custkey, CAST(o_totalprice AS DECIMAL(18,2)) AS total,
        |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER (PARTITION BY o_custkey) AS DECIMAL(18,2)) AS cust_sum,
        |    CAST(COUNT(*) OVER (PARTITION BY o_custkey) AS BIGINT) AS n_cust_orders
        |  FROM orders)
        |SELECT o_orderkey, o_custkey, CAST(total AS DOUBLE) AS total,
        |  CAST(cust_sum AS DOUBLE) AS cust_sum, n_cust_orders FROM t
        |WHERE total * n_cust_orders > cust_sum
        |ORDER BY o_orderkey""".stripMargin,
    "q67_series_filled" ->
      """WITH m AS (
        |  SELECT n_name, date_trunc('month', o_orderdate) AS month, COUNT(*) AS n_orders
        |  FROM orders JOIN customer ON o_custkey = c_custkey JOIN nation ON c_nationkey = n_nationkey
        |  GROUP BY 1, 2),
        |b AS (SELECT MIN(month) AS lo, MAX(month) AS hi FROM m),
        |spine AS (
        |  SELECT n.n_name, gs.month
        |  FROM (SELECT DISTINCT n_name FROM m) n
        |  CROSS JOIN (SELECT unnest(generate_series(lo, hi, INTERVAL 1 MONTH)) AS month FROM b) gs)
        |SELECT spine.n_name, spine.month, COALESCE(m.n_orders, 0) AS n_orders
        |FROM spine LEFT JOIN m ON spine.n_name = m.n_name AND spine.month = m.month
        |ORDER BY spine.n_name, spine.month""".stripMargin,
    "q68_funnel" ->
      """WITH e AS (SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS ts FROM events),
        |a AS (SELECT user_id, MIN(ts) AS t_a FROM e WHERE event_type = 'click' GROUP BY user_id),
        |b AS (SELECT DISTINCT e.user_id
        |      FROM e JOIN a ON e.user_id = a.user_id
        |      WHERE e.event_type = 'purchase' AND e.ts > a.t_a AND e.ts <= a.t_a + INTERVAL 24 HOURS)
        |SELECT (SELECT COUNT(*) FROM a) AS n_entered,
        |       (SELECT COUNT(*) FROM b) AS n_converted,
        |       CAST(CAST(CAST((SELECT COUNT(*) FROM b) AS DOUBLE) / (SELECT COUNT(*) FROM a) AS DECIMAL(18,4)) AS DOUBLE) AS conv_rate""".stripMargin,
    "q69_unpivot" ->
      """SELECT n_name, 'y' || CAST(year(o_orderdate) AS VARCHAR) AS o_year, COUNT(*) AS n_orders
        |FROM orders JOIN customer ON o_custkey = c_custkey JOIN nation ON c_nationkey = n_nationkey
        |WHERE year(o_orderdate) BETWEEN 1995 AND 1998
        |GROUP BY 1, 2 ORDER BY n_name, o_year""".stripMargin,
    "q66_curate" ->
      """WITH m AS (
        |  SELECT doc_id, text,
        |    len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS n_tokens,
        |    len(list_distinct(regexp_extract_all(lower(text), '[a-z0-9]+'))) AS n_distinct,
        |    length(regexp_replace(text, '[^\p{L}]', '', 'g')) AS alpha_chars
        |  FROM documents),
        |kept AS (
        |  SELECT doc_id, text, n_tokens,
        |    CAST(CAST(CASE WHEN n_tokens > 0 THEN 1.0 - CAST(n_distinct AS DOUBLE) / n_tokens ELSE 1.0 END AS DECIMAL(18,4)) AS DOUBLE) AS dup_ratio
        |  FROM m
        |  WHERE n_tokens >= 5
        |    AND CAST(CASE WHEN n_tokens > 0 THEN 1.0 - CAST(n_distinct AS DOUBLE) / n_tokens ELSE 1.0 END AS DECIMAL(18,4)) <= CAST(0.9 AS DECIMAL(18,4))
        |    AND alpha_chars >= 20),
        |ranked AS (
        |  SELECT doc_id, n_tokens, dup_ratio,
        |    row_number() OVER (PARTITION BY md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g')))
        |                       ORDER BY doc_id) AS rk
        |  FROM kept)
        |SELECT doc_id, n_tokens, dup_ratio FROM ranked WHERE rk = 1 ORDER BY doc_id""".stripMargin,
    "q64_cosine_pairs" ->
      // NOT list_cosine_similarity: that accumulates in float and flips the
      // 4th decimal on ~1/2500 rows. This mirrors the Spark expression's
      // exact arithmetic: float products, double accumulation, same order.
      """SELECT a.vec_id,
        |  CAST(CAST(
        |    list_sum(list_transform(list_zip(a.embedding, b.embedding),
        |        p -> CAST(p[1] * p[2] AS DOUBLE)))
        |    / (sqrt(list_sum(list_transform(a.embedding, x -> CAST(x * x AS DOUBLE))))
        |     * sqrt(list_sum(list_transform(b.embedding, x -> CAST(x * x AS DOUBLE)))))
        |  AS DECIMAL(18,4)) AS DOUBLE) AS cos
        |FROM embeddings a JOIN embeddings b ON b.vec_id = a.vec_id + 1
        |ORDER BY a.vec_id""".stripMargin,
    "q65_label_centroids" ->
      """SELECT label, u[2] AS dim, CAST(CAST(AVG(CAST(u[1] AS DOUBLE)) AS DECIMAL(18,4)) AS DOUBLE) AS c
        |FROM (SELECT label, unnest(list_zip(embedding, range(1, len(embedding) + 1))) AS u
        |      FROM embeddings)
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q132_gram_matrix" ->
      // same micro-unit quantization as the Spark side: round(v·1e6) is the
      // identical IEEE multiply+round in both engines, integer sums are
      // exact (DuckDB HUGEINT ≡ Spark DECIMAL(38,0)), division is one
      // double op on identical operands
      """WITH idx AS (SELECT CAST(range AS INT) AS i FROM range(1, 65)),
        |flat AS (
        |  SELECT e.vec_id, i.i,
        |    CAST(round(CAST(e.embedding[i.i] AS DOUBLE) * 1000000.0) AS BIGINT) AS q
        |  FROM embeddings e CROSS JOIN idx i)
        |SELECT a.i AS i, b.i AS j,
        |  CAST(SUM(a.q * b.q) AS DOUBLE) / 1000000000000.0 AS dot
        |FROM flat a JOIN flat b ON a.vec_id = b.vec_id AND a.i <= b.i
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q63_dedup_clusters" ->
      """WITH RECURSIVE names AS (SELECT p_name, MIN(p_partkey) AS p_partkey FROM part GROUP BY p_name),
        |cand AS (
        |  SELECT a.p_partkey AS id_a, b.p_partkey AS id_b, a.p_name AS s_a, b.p_name AS s_b
        |  FROM names a JOIN names b
        |    ON substring(a.p_name, 1, 4) = substring(b.p_name, 1, 4) AND a.p_partkey < b.p_partkey
        |  UNION
        |  SELECT a.p_partkey, b.p_partkey, a.p_name, b.p_name
        |  FROM names a JOIN names b
        |    ON substring(a.p_name, greatest(length(a.p_name) - 3, 1), 4)
        |       = substring(b.p_name, greatest(length(b.p_name) - 3, 1), 4)
        |   AND a.p_partkey < b.p_partkey),
        |pairs AS (SELECT id_a, id_b FROM cand WHERE levenshtein(s_a, s_b) <= 2),
        |e AS (SELECT id_a AS src, id_b AS dst FROM pairs UNION SELECT id_b, id_a FROM pairs),
        |r(node, lab) AS (
        |  SELECT DISTINCT src, src FROM e
        |  UNION
        |  SELECT e.src, r.lab FROM e JOIN r ON e.dst = r.node)
        |SELECT node, MIN(lab) AS cluster_id FROM r GROUP BY node ORDER BY node""".stripMargin,
    "q87_dedup_clusters_star" ->
      """WITH RECURSIVE names AS (SELECT p_name, MIN(p_partkey) AS p_partkey FROM part GROUP BY p_name),
        |cand AS (
        |  SELECT a.p_partkey AS id_a, b.p_partkey AS id_b, a.p_name AS s_a, b.p_name AS s_b
        |  FROM names a JOIN names b
        |    ON substring(a.p_name, 1, 4) = substring(b.p_name, 1, 4) AND a.p_partkey < b.p_partkey
        |  UNION
        |  SELECT a.p_partkey, b.p_partkey, a.p_name, b.p_name
        |  FROM names a JOIN names b
        |    ON substring(a.p_name, greatest(length(a.p_name) - 3, 1), 4)
        |       = substring(b.p_name, greatest(length(b.p_name) - 3, 1), 4)
        |   AND a.p_partkey < b.p_partkey),
        |pairs AS (SELECT id_a, id_b FROM cand WHERE levenshtein(s_a, s_b) <= 2),
        |e AS (SELECT id_a AS src, id_b AS dst FROM pairs UNION SELECT id_b, id_a FROM pairs),
        |r(node, lab) AS (
        |  SELECT DISTINCT src, src FROM e
        |  UNION
        |  SELECT e.src, r.lab FROM e JOIN r ON e.dst = r.node)
        |SELECT node, MIN(lab) AS cluster_id FROM r GROUP BY node ORDER BY node""".stripMargin,
    "q62_skew_profile" ->
      """WITH c AS (SELECT l_orderkey, COUNT(*) AS n_rows FROM lineitem GROUP BY 1),
        |s AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_keys, MIN(n_rows) AS min_rows,
        |             MAX(n_rows) AS max_rows,
        |             CAST(CAST(CAST(SUM(n_rows) AS DOUBLE) / COUNT(*) AS DECIMAL(18,4)) AS DOUBLE) AS avg_rows
        |      FROM c),
        |h AS (SELECT l_orderkey AS hottest_key FROM c ORDER BY n_rows DESC, l_orderkey DESC LIMIT 1)
        |SELECT n_keys, min_rows, max_rows, avg_rows, hottest_key FROM s CROSS JOIN h""".stripMargin,
    "q58_pivot" ->
      """SELECT n_name,
        |  COUNT(CASE WHEN year(o_orderdate) = 1995 THEN 1 END) AS y1995,
        |  COUNT(CASE WHEN year(o_orderdate) = 1996 THEN 1 END) AS y1996,
        |  COUNT(CASE WHEN year(o_orderdate) = 1997 THEN 1 END) AS y1997,
        |  COUNT(CASE WHEN year(o_orderdate) = 1998 THEN 1 END) AS y1998
        |FROM orders JOIN customer ON o_custkey = c_custkey JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY n_name ORDER BY n_name""".stripMargin,
    "q59_mom_delta" ->
      """WITH m AS (
        |  SELECT n_name, date_trunc('month', o_orderdate) AS month,
        |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS revenue
        |  FROM orders JOIN customer ON o_custkey = c_custkey JOIN nation ON c_nationkey = n_nationkey
        |  GROUP BY 1, 2)
        |SELECT n_name, month, CAST(revenue AS DOUBLE) AS revenue,
        |  CAST(lag(revenue) OVER (PARTITION BY n_name ORDER BY month) AS DOUBLE) AS prev_revenue,
        |  CAST(CAST(revenue - lag(revenue) OVER (PARTITION BY n_name ORDER BY month) AS DECIMAL(18,2)) AS DOUBLE) AS delta
        |FROM m ORDER BY n_name, month""".stripMargin,
    "q60_fuzzy_match" ->
      """WITH names AS (SELECT p_name, MIN(p_partkey) AS p_partkey FROM part GROUP BY p_name),
        |cand AS (
        |  SELECT a.p_partkey AS id_a, b.p_partkey AS id_b, a.p_name AS s_a, b.p_name AS s_b
        |  FROM names a JOIN names b
        |    ON substring(a.p_name, 1, 4) = substring(b.p_name, 1, 4) AND a.p_partkey < b.p_partkey
        |  UNION
        |  SELECT a.p_partkey, b.p_partkey, a.p_name, b.p_name
        |  FROM names a JOIN names b
        |    ON substring(a.p_name, greatest(length(a.p_name) - 3, 1), 4)
        |       = substring(b.p_name, greatest(length(b.p_name) - 3, 1), 4)
        |   AND a.p_partkey < b.p_partkey)
        |SELECT id_a, id_b, s_a, s_b, CAST(levenshtein(s_a, s_b) AS INTEGER) AS dist
        |FROM cand WHERE levenshtein(s_a, s_b) <= 2
        |ORDER BY id_a, id_b""".stripMargin,
    "q56_group_sample" ->
      """WITH r AS (
        |  SELECT source, doc_id,
        |    row_number() OVER (PARTITION BY source
        |                       ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS sample_rank
        |  FROM documents)
        |SELECT source, doc_id, CAST(sample_rank AS INTEGER) AS sample_rank FROM r
        |WHERE sample_rank <= 5 ORDER BY source, sample_rank""".stripMargin,
    "q57_heavy_hitters" ->
      """SELECT tok, COUNT(*) AS est_count
        |FROM (SELECT unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS tok FROM documents)
        |WHERE tok IN ('scan', 'table', 'the', 'row', 'hash')
        |GROUP BY tok ORDER BY tok""".stripMargin,
    "q52_rollup" ->
      """SELECT coalesce(n_name, 'ALL') AS nation,
        |       coalesce(CAST(year(o_orderdate) AS VARCHAR), 'ALL') AS o_year,
        |       COUNT(*) AS n_orders
        |FROM orders JOIN customer ON o_custkey = c_custkey JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY ROLLUP(n_name, year(o_orderdate))
        |ORDER BY nation, o_year""".stripMargin,
    "q55_range_join" ->
      """WITH e AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts FROM events),
        |iv AS (
        |  SELECT user_id, MIN(ts) AS w_start, MIN(ts) + INTERVAL 2 DAY AS w_end
        |  FROM e WHERE user_id % 7 = 0 GROUP BY user_id)
        |SELECT iv.user_id, COUNT(*) AS n_events
        |FROM iv JOIN e ON e.ts >= iv.w_start AND e.ts < iv.w_end
        |GROUP BY iv.user_id ORDER BY iv.user_id""".stripMargin,
    "q53_contamination" ->
      """WITH toks AS (SELECT doc_id, source, regexp_extract_all(lower(text), '[a-z0-9]+') AS t FROM documents),
        |grams AS (
        |  SELECT doc_id, source, md5(array_to_string(t[i:i+7], ' ')) AS g
        |  FROM toks, unnest(range(1, len(t) - 6)) AS u(i)),
        |bench AS (SELECT DISTINCT g FROM grams WHERE source = 'src0')
        |SELECT DISTINCT doc_id FROM grams
        |WHERE source <> 'src0' AND g IN (SELECT g FROM bench)
        |ORDER BY doc_id""".stripMargin
  )
}

package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Training-data curation operators: repetition filtering, PII redaction,
  * vocabulary building, TF-IDF, sequence packing, and benchmark-contamination
  * screening. These extend the reference's data-quality surface
  * (/root/reference/src/models/issue.py:12-17 is per-row validation; these are
  * the corpus-level analogs an LLM-data pipeline needs).
  *
  * Scale notes:
  *  - repetition/redaction are pure column expressions — map-side only, inside
  *    WholeStageCodegen, zero shuffle.
  *  - vocabulary/tfidf shuffle on the token — the natural key; Spark's partial
  *    aggregation combines map-side so the shuffle carries (token, count)
  *    partials, not raw tokens.
  *  - packSequences windows PER SOURCE, so parallelism = #sources and no
  *    global single-partition sort ever happens; at 100 TB shard big sources
  *    further (e.g. by hash(doc_id) % k as a secondary key) before packing.
  *  - contaminationScreen dedups benchmark n-grams first (benchmark suites are
  *    tiny vs the corpus) so the semi-join broadcasts; the corpus side streams
  *    through without ever materializing its gram set.
  */
object Curation {

  /** Lower-cased alphanumeric word tokens; regexp_extract_all so the empty
    * string yields an empty array. Reproducible in DuckDB verbatim. */
  def tokens(c: Column): Column =
    regexp_extract_all(lower(c), lit("[a-z0-9]+"), lit(0))

  /** One (keys…, gram) row per position-i word n-gram.
    *
    * Two performance rules live here, both measured at sf0.1:
    * (1) the token array is bound to a REAL COLUMN in its own projection
    * before any lambda touches it — an inline tokens() expression captured
    * by a higher-order function re-runs the regex for every lambda
    * evaluation (≈2·tokens extractions per doc; the bigram count stage
    * measured 7.5 s inline vs 1.0 s two-step), and CollapseProject leaves
    * the split alone because the array attribute is referenced multiple,
    * non-cheap times; (2) grams are built INSIDE transform so the exploded
    * rows carry only the gram string, never the token array (the
    * O(tokens²)-bytes trap — 19 s vs 2.4 s when first measured). */
  private[graft] def ngramRows(docs: DataFrame, keys: Seq[String],
                                   textCol: String, n: Int,
                                   gramCol: String): DataFrame = {
    val tok = docs.select(keys.map(col) :+ tokens(col(textCol)).as("__t"): _*)
    val t = col("__t")
    tok.select(keys.map(col) :+ explode(
      when(size(t) >= n,
        transform(sequence(lit(1), size(t) - (n - 1)),
          i => concat_ws(" ", slice(t, i, lit(n)))))
        .otherwise(array().cast("array<string>"))).as(gramCol): _*)
  }

  /** Gopher-style repetition stats: duplicate-token ratio per document.
    * High dup_ratio ⇒ boilerplate/spam candidate for filtering. */
  def repetitionStats(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val t = tokens(col(textCol))
    val nTok = size(t)
    val nDis = size(array_distinct(t))
    docs.select(
      col(idCol),
      nTok.cast("long").as("n_tokens"),
      nDis.cast("long").as("n_distinct"),
      // empty/null text → null ratio (ANSI mode makes x/0 fatal, not NaN)
      when(nTok > 0, (lit(1.0) - nDis.cast("double") / nTok).cast("decimal(18,4)"))
        .as("dup_ratio"))
      .orderBy(idCol)
  }

  /** Latin accent-folding map (the common Latin-1 Supplement range) —
    * identical `translate` source/target strings reproduce the fold verbatim
    * in the DuckDB oracle, unlike java.text.Normalizer which has no SQL
    * twin. */
  val AccentSrc = "àáâãäåèéêëìíîïòóôõöùúûüýÿñçÀÁÂÃÄÅÈÉÊËÌÍÎÏÒÓÔÕÖÙÚÛÜÝÑÇ"
  val AccentDst = "aaaaaaeeeeiiiiooooouuuuyyncAAAAAAEEEEIIIIOOOOOUUUUYNC"

  /** Ingest text normalization: trim, collapse whitespace, fold Latin
    * accents, lowercase, strip control chars — the canonical form the
    * reference's header/email matching implies (csv_validator.py:131-165
    * normalizes case/spacing before matching). Pure codegen'd expressions. */
  def normalizeText(c: Column): Column =
    // whitespace collapse FIRST (tabs/newlines are controls AND separators —
    // they must become spaces, not vanish), then strip residual controls.
    // Control chars via explicit hex range: \p{Cntrl} is Java-only, POSIX
    // [[:cntrl:]] is RE2-only — the hex class is the common dialect
    lower(translate(regexp_replace(regexp_replace(trim(c), "\\s+", " "), "[\\x00-\\x1F\\x7F]", ""),
      AccentSrc, AccentDst))

  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}" // RE2 ∩ java.util.regex
  val NumRe = "\\d+"

  /** PII redaction: emails → `<EMAIL>` first, then digit runs → `<NUM>` on the
    * intermediate (so digits inside an email aren't double-counted). Returns
    * the redacted text and the redaction count per row. */
  def redact(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val noEmail = regexp_replace(col(textCol), EmailRe, "<EMAIL>")
    df.select(
      col(idCol),
      regexp_replace(noEmail, NumRe, "<NUM>").as("redacted"),
      (size(regexp_extract_all(col(textCol), lit(EmailRe), lit(0)))
        + size(regexp_extract_all(noEmail, lit(NumRe), lit(0)))).cast("long").as("n_redactions"))
      .orderBy(idCol)
  }

  /** Corpus vocabulary: top-k tokens by frequency (count desc, token asc —
    * total order so the cut is deterministic). */
  def vocabulary(docs: DataFrame, textCol: String, k: Int): DataFrame =
    docs.select(explode(tokens(col(textCol))).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("n"))
      .orderBy(desc("n"), asc("tok"))
      .limit(k)

  /** Highest-TF-IDF term per document (tf × ln(N/df), ties → smallest token).
    *
    * tf is eagerly localCheckpoint'ed: both the df aggregate and the scoring
    * join derive from it, and without materialization Spark re-scans and
    * re-tokenizes the whole corpus for the df branch (no automatic subtree
    * reuse). df then aggregates with map-side partials — the tok shuffle
    * carries (tok, partial_count), not raw rows — and broadcasts into the
    * scoring join. (A window-count-over-tok formulation avoids the second
    * branch entirely but shuffles EVERY tf row by token with hot-token skew:
    * measured 2.5× slower at sf0.1.) */
  def tfidfTopTerm(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    // N as a broadcast 1-row aggregate, not a separate count() action: the
    // count-only branch prunes every column (parquet answers it from row-group
    // metadata), and the whole query stays a single job. The 1-row broadcast
    // cross join is O(n·1) — allowlisted in PlanContractSpec like the other
    // stat-row joins. (A constant-key equi-join does NOT help: Catalyst folds
    // the literal condition away and re-plans the same nested loop.)
    val nDocs = docs.agg(count(lit(1)).cast("double").as("__n_docs"))
    val tf = docs.select(col(idCol), explode(tokens(col(textCol))).as("tok"))
      .groupBy(idCol, "tok").agg(count(lit(1)).as("tf"))
      .localCheckpoint()
    val dfreq = tf.groupBy("tok").agg(count(lit(1)).as("df"))
    val w = Window.partitionBy(idCol).orderBy(desc("score"), asc("tok"))
    tf.join(dfreq, "tok")
      .crossJoin(broadcast(nDocs))
      .withColumn("score", col("tf").cast("double") * log(col("__n_docs") / col("df")))
      .withColumn("rk", row_number().over(w))
      .where(col("rk") === 1)
      .select(col(idCol), col("tok").as("top_term"),
        col("score").cast("decimal(18,6)").as("tfidf"))
      .orderBy(idCol)
  }

  /** Pack documents into fixed-token-budget training sequences: per source,
    * seq_id = floor(exclusive-prefix-sum(n_tok) / budget). Deterministic (no
    * RNG, ordered by doc id) and windowed per source so no global sort. */
  def packSequences(docs: DataFrame, idCol: String, srcCol: String,
                    textCol: String, budget: Int): DataFrame = {
    val nTok = size(regexp_extract_all(col(textCol), lit("\\S+"), lit(0)))
    val w = Window.partitionBy(srcCol).orderBy(idCol)
      .rowsBetween(Window.unboundedPreceding, -1)
    docs.select(col(idCol), col(srcCol), nTok.cast("long").as("n_tok"))
      .withColumn("prior", coalesce(sum("n_tok").over(w), lit(0L)))
      .select(col(idCol), col(srcCol), col("n_tok"),
        floor(col("prior") / budget).as("seq_id"))
      .orderBy(srcCol, idCol)
  }

  /** Context-window chunking: split documents into fixed-size character
    * chunks with overlap (the pre-tokenization step that turns long
    * documents into model-sized pieces). Pure expressions: chunk count from
    * integer arithmetic, sequence+explode for indices, substring for the
    * slice — a map-side expand, no shuffle, no UDF. Chunks shorter than
    * `size` only occur at document end; empty docs yield one empty chunk
    * (so no document silently disappears). */
  def chunkDocuments(docs: DataFrame, idCol: String, textCol: String,
                     size: Int, overlap: Int): DataFrame = {
    require(overlap < size, "overlap must be smaller than chunk size")
    val stride = size - overlap
    val len = length(coalesce(col(textCol), lit("")))
    val nChunks = when(len <= size, lit(1L))
      .otherwise(ceil((len - size).cast("double") / stride).cast("long") + 1L)
    docs.select(col(idCol), col(textCol), nChunks.as("__n"))
      .select(col(idCol), col(textCol),
        explode(sequence(lit(0L), col("__n") - 1L)).as("chunk_idx"))
      .select(col(idCol), col("chunk_idx").cast("int").as("chunk_idx"),
        substring(coalesce(col(textCol), lit("")),
          (col("chunk_idx") * stride + 1).cast("int"), lit(size)).as("chunk_text"))
      .orderBy(idCol, "chunk_idx")
  }

  /** Token co-occurrence with PMI over a FIXED vocabulary: which tracked
    * terms appear together more than chance? The vocab restriction is the
    * scale guard — the per-doc self-join is bounded by |vocab| tokens per
    * doc, never the raw text length. pmi = ln(N·n_ab / (n_a·n_b)) over
    * document frequencies; the one double step (ln) runs last on exact
    * counts. */
  def cooccurrencePmi(docs: DataFrame, idCol: String, textCol: String,
                      vocab: Seq[String]): DataFrame = {
    // same single-job N trick as tfidfTopTerm (1-row broadcast cross join)
    val nDocs = docs.agg(count(lit(1)).as("__n_docs"))
    val dt = docs.select(col(idCol),
        explode(array_distinct(tokens(col(textCol)))).as("tok"))
      .where(col("tok").isInCollection(vocab))
      .localCheckpoint() // pair join + both marginals reuse it
    val marg = dt.groupBy("tok").agg(count(lit(1)).as("n_tok"))
    val pairs = dt.as("a")
      .join(dt.as("b"),
        col(s"a.$idCol") === col(s"b.$idCol") && col("a.tok") < col("b.tok"))
      .groupBy(col("a.tok").as("tok_a"), col("b.tok").as("tok_b"))
      .agg(count(lit(1)).as("n_both"))
    pairs
      .join(broadcast(marg.select(col("tok").as("tok_a"), col("n_tok").as("n_a"))), "tok_a")
      .join(broadcast(marg.select(col("tok").as("tok_b"), col("n_tok").as("n_b"))), "tok_b")
      .crossJoin(broadcast(nDocs))
      .select(col("tok_a"), col("tok_b"), col("n_both"),
        log((col("__n_docs") * col("n_both")).cast("double")
          / (col("n_a") * col("n_b")).cast("double")).cast("decimal(18,4)").as("pmi"))
      .orderBy("tok_a", "tok_b")
  }

  /** Unigram log-likelihood scoring — the cheap LM-proxy quality filter of
    * corpus curation pipelines: score(doc) = mean over token OCCURRENCES of
    * ln P(tok), with P the corpus' own unigram distribution. Low scores mark
    * rare-token noise (boilerplate, mangled encodings), high scores mark
    * common prose.
    *
    * Oracle-exactness: each ln P is a SINGLE double computation (bit-equal
    * across engines, as q49/q82 demonstrate) rounded once to decimal(28,9);
    * the per-doc SUM is then decimal — exact and order-independent — and the
    * one double division runs last. A raw double sum would be partial-order-
    * dependent and unhashable across engines.
    *
    * Scale shape: token counts aggregate with map-side partials; the
    * occurrences⋈counts join is the same token-keyed shape as tfidf's df
    * join — AQE broadcasts a small vocab or skew-splits hot tokens. */
  def unigramLogLikelihood(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val dt = docs.select(col(idCol), explode(tokens(col(textCol))).as("tok"))
    val counts = dt.groupBy("tok").agg(count(lit(1)).as("c"))
    val total = dt.agg(count(lit(1)).cast("double").as("__n_total")) // 1-row broadcast
    dt.join(counts, "tok")
      .crossJoin(broadcast(total))
      .select(col(idCol), log(col("c") / col("__n_total")).cast("decimal(28,9)").as("lp"))
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_tokens"), sum("lp").as("sum_lp"))
      .select(col(idCol), col("n_tokens"),
        (col("sum_lp").cast("double") / col("n_tokens"))
          .cast("decimal(18,6)").cast("double").as("avg_logprob"))
      .orderBy(idCol)
  }

  /** Bigram LM scoring with add-one smoothing: per-doc average of
    * ln P(wᵢ|wᵢ₋₁) where P = (c(wᵢ₋₁wᵢ)+1)/(c(wᵢ₋₁)+V). The step up from
    * [[unigramLogLikelihood]]: catches word-salad documents whose unigram
    * distribution looks normal but whose transitions are noise. Shuffles on
    * the bigram key (natural, map-side-combined); the ln is one IEEE call
    * per bigram cast to decimal BEFORE the order-dependent sum; one double
    * division last. */
  def bigramLogLikelihood(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    // bigram expansion via [[ngramRows]] (regex-once, gram-only rows); the
    // context word is recovered with one substring_index, and the
    // (id, bigram) pair set is persisted because three consumers (pair
    // counts, context counts, scoring join) would otherwise re-run the
    // explode each
    val dt = ngramRows(docs, Seq(idCol), textCol, 2, "bg")
      .withColumn("w1", substring_index(col("bg"), " ", 1))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val big = dt.groupBy("bg").agg(count(lit(1)).as("cb"))
    val uni = dt.groupBy("w1").agg(count(lit(1)).as("cu"))
    val vocab = dt.agg(countDistinct(col("w1")).cast("double").as("__v"))
    val scored = dt.join(big, Seq("bg"))
      .join(uni, Seq("w1"))
      .crossJoin(broadcast(vocab))
      .select(col(idCol),
        log((col("cb") + lit(1)) / (col("cu") + col("__v"))).cast("decimal(28,9)").as("lp"))
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_bigrams"), sum("lp").as("sum_lp"))
      .select(col(idCol), col("n_bigrams"),
        (col("sum_lp").cast("double") / col("n_bigrams"))
          .cast("decimal(18,6)").cast("double").as("avg_logprob"))
      .orderBy(idCol)
    val out = scored.localCheckpoint(true)
    dt.unpersist(false)
    out
  }

  /** Interpolated Kneser–Ney bigram probabilities (Kneser & Ney 1995;
    * Chen & Goodman 1999 §2.7) — the standard n-gram smoothing, and the
    * CONTINUATION-count upgrade of [[bigramLogLikelihood]]'s add-one:
    * backing off to how many DISTINCT contexts a word follows rather
    * than its raw frequency ("francisco" is frequent but only ever
    * follows "san" — KN correctly refuses to predict it elsewhere).
    *   P(w₂|w₁) = (c₁₂ − D)/c₁ + (D·N₁₊(w₁·)/c₁) · N₁₊(·w₂)/B
    * with the fixed literature discount D = 0.75 and B = distinct
    * bigram types. Reports the top-K bigrams by count with their
    * smoothed probability and the backoff split.
    *
    * One bigram-count aggregate (map-side combinable), from which ALL
    * four count tables derive by re-aggregating the (w1,w2,c) TYPE
    * table (vocabulary-sized, not corpus-sized — localCheckpointed,
    * four consumers); B is the house 1-row broadcast frame
    * (plan-contract allowlisted). Exactness: every count is an exact
    * integer; c₁₂ − 0.75 is exact in binary (0.75 = 3/4), and the
    * probability is ONE mirrored left-assoc double chain
    * (c₁₂−D)/c₁ + (D·N1f/c₁)·(N1b/B), quantized to 9 dp. Top-K via
    * TakeOrderedAndProject (count desc, w1, w2 — total order). */
  def kneserNeyBigrams(docs: DataFrame, idCol: String, textCol: String,
                       topK: Int = 30): DataFrame = {
    val big = ngramRows(docs, Seq(idCol), textCol, 2, "bg")
      .select(substring_index(col("bg"), " ", 1).as("w1"),
        substring_index(col("bg"), " ", -1).as("w2"))
      .groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
      .localCheckpoint() // four consumers of the type table
    val c1 = big.groupBy("w1").agg(sum("c12").cast("long").as("c1"),
      count(lit(1)).as("n1f")) // token count + distinct-successor types
    val n1b = big.groupBy("w2").agg(count(lit(1)).as("n1b")) // distinct-predecessor types
    val bTot = big.agg(count(lit(1)).as("__b"))
    val d = (c: String) => col(c).cast("double")
    val p = (d("c12") - lit(0.75d)) / d("c1") +
      (lit(0.75d) * d("n1f") / d("c1")) * (d("n1b") / d("__b"))
    big.join(c1, Seq("w1")).join(n1b, Seq("w2"))
      .crossJoin(broadcast(bTot))
      .select(col("w1"), col("w2"), col("c12").cast("long").as("c12"),
        col("c1"),
        p.cast("decimal(18,9)").cast("double").as("p_kn"),
        (d("n1b") / d("__b")).cast("decimal(18,9)").cast("double").as("p_continuation"))
      .orderBy(col("c12").desc, col("w1"), col("w2")).limit(topK)
  }

  /** Per-document token entropy H = −Σ (c/n)·ln(c/n): the vocabulary-
    * concentration quality signal (near-zero ⇒ one token repeated — spam;
    * high ⇒ diverse vocabulary). One (doc, token) count aggregate, then
    * per-term ln through the DECIMAL(28,9) recipe so the order-dependent
    * sum is exact; H is flipped positive at the boundary. */
  def tokenEntropy(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val counts = docs
      .select(col(idCol), explode(tokens(col(textCol))).as("tok"))
      .groupBy(idCol, "tok").agg(count(lit(1)).as("c"))
    val wdoc = Window.partitionBy(idCol)
    counts
      // n via a doc-partition window: the (doc, tok) set is already tiny
      // compared to raw tokens, and this avoids a second aggregate + join
      .withColumn("n", sum(col("c")).over(wdoc))
      .select(col(idCol), col("n"),
        ((col("c") / col("n").cast("double")) * log(col("c") / col("n").cast("double")))
          .cast("decimal(28,9)").as("term"))
      .groupBy(idCol)
      .agg(first(col("n")).as("n_tokens"),
        (-sum(col("term")).cast("double")).cast("decimal(18,6)").cast("double")
          .as("entropy"))
      .orderBy(idCol)
  }

  /** Bigram novelty: the fraction of a document's bigram occurrences whose
    * bigram appears in NO other document — the memorization-risk /
    * boilerplate-inverse metric (novelty 1 ⇒ nothing shared with the
    * corpus; near 0 ⇒ assembled from corpus-common phrases). Reuses the
    * bigram shuffle shape of [[bigramLogLikelihood]]; the corpus-support
    * side aggregates DISTINCT docs per bigram, and the score is one double
    * division. */
  def bigramNovelty(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    // collapse to (doc, bigram, multiplicity) ONCE and persist it: the
    // support side is then a map-side-combined count over the grouped rows
    // (one row per sharing doc ⇒ its count IS the distinct-doc support),
    // broadcast back — so the expensive explode+group runs once, and
    // nothing corpus-sized reshuffles or joins. The naive dt⋈support shape
    // re-expanded the bigrams twice and measured 12.8 s vs 7.8 s at sf0.1.
    // Broadcast contract: support is |distinct bigrams|-sized. On an open
    // web vocabulary drop the broadcast() hint — the equi-join on bg then
    // shuffles both sides on the natural key, still one pass over grouped.
    val grouped = ngramRows(docs, Seq(idCol), textCol, 2, "bg")
      .groupBy(idCol, "bg").agg(count(lit(1)).as("m"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val support = grouped.groupBy("bg").agg(count(lit(1)).as("nd"))
    val out = grouped.join(broadcast(support), Seq("bg"))
      .groupBy(idCol)
      .agg(sum(col("m")).as("n_bigrams"),
        sum(when(col("nd") === 1, col("m")).otherwise(lit(0L))).as("n_unique"))
      .withColumn("novelty",
        (col("n_unique").cast("double") / col("n_bigrams").cast("double"))
          .cast("decimal(18,6)").cast("double"))
      .orderBy(idCol)
      .localCheckpoint(true)
    grouped.unpersist(false)
    out
  }

  /** The composed curation pass — what a real corpus run executes: quality
    * thresholds + repetition cap in ONE map-side predicate stage (no
    * intermediate materialization; all column expressions fuse into the
    * scan's WholeStageCodegen), then exact-dedup keep-first as the single
    * shuffle. Returns surviving (id, text) plus the per-doc metrics that
    * justified keeping them — the audit trail a curation run must emit. */
  def curate(docs: DataFrame, idCol: String, textCol: String,
             minTokens: Int = 5, maxDupRatio: Double = 0.9,
             minAlphaChars: Int = 20): DataFrame = {
    val t = tokens(col(textCol))
    val nTok = size(t)
    val nDis = size(array_distinct(t))
    val alphaChars = length(regexp_replace(col(textCol), "[^\\p{L}]", ""))
    val dupRatio = when(nTok > 0, lit(1.0) - nDis.cast("double") / nTok).otherwise(lit(1.0))
    val kept = docs.select(col(idCol), col(textCol),
        nTok.cast("long").as("n_tokens"),
        dupRatio.cast("decimal(18,4)").as("dup_ratio"))
      .where(col("n_tokens") >= minTokens &&
        col("dup_ratio") <= lit(maxDupRatio).cast("decimal(18,4)") &&
        alphaChars >= minAlphaChars)
    // keep-first among exact duplicates (same fingerprint): one shuffle
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(graft.functions.Cols.fingerprint(col(textCol))).orderBy(idCol)
    kept.withColumn("rk", row_number().over(w)).where(col("rk") === 1).drop("rk")
      .orderBy(idCol)
  }

  /** Benchmark-contamination screen: flag corpus docs sharing any n-token
    * shingle with a benchmark doc (`benchPred` selects the benchmark rows).
    * Joins on md5(gram) — deterministic, engine-reproducible, and a fixed
    * 32-char shuffle key regardless of n. */
  def contaminationScreen(docs: DataFrame, idCol: String, textCol: String,
                          benchPred: Column, n: Int = 8): DataFrame = {
    val base = docs.select(col(idCol), benchPred.as("is_bench"), tokens(col(textCol)).as("t"))
    // sequence(1, size-n+1) only when size >= n: Spark's sequence(1, 0) counts DOWN
    val idx = when(size(col("t")) >= n, sequence(lit(1), size(col("t")) - (n - 1)))
      .otherwise(array().cast("array<int>"))
    val grams = base.select(col(idCol), col("is_bench"),
        explode(idx).as("i"), col("t"))
      .select(col(idCol), col("is_bench"),
        md5(concat_ws(" ", slice(col("t"), col("i"), lit(n)))).as("g"))
    val bench = grams.where(col("is_bench")).select("g").distinct()
    grams.where(!col("is_bench"))
      .join(bench, Seq("g"), "left_semi")
      .select(idCol).distinct()
      .orderBy(idCol)
  }

  /** Boilerplate detection, CCNet-style: within each source, the n-grams
    * that occur in the most DISTINCT documents are templates/boilerplate
    * (nav bars, footers, license headers). Emits the top-k most
    * document-frequent n-grams per source with their document counts —
    * the removal list a cleaning pass would subtract.
    *
    * Shape for scale: gram expansion is map-side (explode, no shuffle);
    * the distinct + count shuffles on (source, gram) — the natural key,
    * with partial aggregation; top-k per source is a rank-filtered window
    * that Catalyst executes as WindowGroupLimit (per-partition heaps, no
    * full sort of the gram counts). */
  def boilerplateGrams(docs: DataFrame, idCol: String, srcCol: String,
                       textCol: String, n: Int = 2, topK: Int = 3): DataFrame = {
    val grams = ngramRows(docs, Seq(idCol, srcCol), textCol, n, "gram")
      .distinct()
    val counts = grams.groupBy(srcCol, "gram")
      .agg(count(lit(1)).as("n_docs"))
    val w = Window.partitionBy(srcCol).orderBy(col("n_docs").desc, col("gram"))
    counts.withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= topK)
      .orderBy(col(srcCol), col("rk"))
  }

  /** DSIR-style importance weights (Xie et al., "Data Selection for
    * Language Models via Importance Resampling", 2023): per-doc mean
    * log-ratio of a TARGET unigram LM over the SOURCE (whole-corpus) LM,
    * both add-one smoothed over the corpus vocabulary. Docs whose tokens
    * look like the target domain score high and get upweighted/resampled
    * when mixing corpora toward a reference distribution — the
    * domain-targeting sibling of [[unigramLogLikelihood]]'s absolute
    * quality score.
    *
    * Exactness: per token, the ratio ((ct+1)·(Ns+V)) / ((cs+1)·(Nt+V)) is
    * built from exact integer products (DECIMAL(38,0) — two ~1e10 counts
    * overflow a long), each side rounded once to double, ONE division, ONE
    * ln, quantized DECIMAL(28,9) before the order-independent per-doc sum;
    * the final mean is the single double division.
    *
    * Shape for scale: two token-keyed count aggregates (map-side combined)
    * + one occurrences⋈counts join — tfidf's shape; AQE broadcasts the
    * small target vocab or skew-splits hot tokens. The 1-row totals ride a
    * broadcast cross join. */
  def importanceWeights(docs: DataFrame, idCol: String, textCol: String,
                        isTarget: Column): DataFrame = {
    val dt = docs.select(col(idCol), isTarget.as("__t"),
        explode(tokens(col(textCol))).as("tok"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val cs = dt.groupBy("tok").agg(count(lit(1)).as("cs"),
      count(when(col("__t"), lit(1))).as("ct"))
    val totals = cs.agg(sum("cs").as("__ns"), sum("ct").as("__nt"),
      count(lit(1)).as("__v")) // 1 row: source occ, target occ, vocab size
    val num = ((col("ct") + 1).cast("decimal(38,0)") *
      (col("__ns") + col("__v")).cast("decimal(38,0)")).cast("double")
    val den = ((col("cs") + 1).cast("decimal(38,0)") *
      (col("__nt") + col("__v")).cast("decimal(38,0)")).cast("double")
    dt.join(cs, "tok")
      .crossJoin(broadcast(totals))
      .select(col(idCol), log(num / den).cast("decimal(28,9)").as("lw"))
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_tokens"), sum("lw").as("sum_lw"))
      .select(col(idCol), col("n_tokens"),
        (col("sum_lw").cast("double") / col("n_tokens"))
          .cast("decimal(18,6)").cast("double").as("avg_logratio"))
      .orderBy(idCol)
  }

  /** Length-bucketed inference batching: snap each doc's token count to the
    * smallest bucket boundary that fits (oversize docs clamp to the last
    * boundary — the truncation bucket), then number docs into fixed-size
    * batches within their bucket. Bucketing by length is how serving/eval
    * pipelines kill padding waste: a batch of like-sized sequences pads to
    * its bucket boundary, not to the global max. `padding` reports the
    * per-doc cost (boundary − tokens, 0 when clamped).
    *
    * Batch numbering must NOT be a row_number over PARTITION BY bucket —
    * with a handful of buckets at 100 TB that is a single-reducer sort per
    * bucket. Instead the global two-pass numbering
    * ([[Analytics.globalRowNumber]] on (bucket, id)) hands every doc a
    * dense rank; per-bucket offsets (one tiny agg, broadcast back) convert
    * it to an in-bucket position, and batch = position div batchSize. */
  def lengthBucketBatches(docs: DataFrame, idCol: String, textCol: String,
                          boundaries: Seq[Int], batchSize: Int): DataFrame = {
    require(boundaries.nonEmpty && boundaries == boundaries.sorted && batchSize >= 1,
      "need ascending boundaries and batchSize >= 1")
    val nTok = size(tokens(col(textCol)))
    val bucket = boundaries.init.reverse.foldLeft(
      lit(boundaries.last)) { (acc, b) => when(nTok <= b, lit(b)).otherwise(acc) }
    val sized = docs.select(col(idCol), nTok.cast("long").as("n_tok"),
      bucket.cast("long").as("bucket"))
    val numbered = Analytics.globalRowNumber(sized, Seq("bucket", idCol))
    val offsets = numbered.groupBy("bucket").agg(min("seq").as("__first"))
    numbered.join(broadcast(offsets), Seq("bucket"))
      .select(col(idCol), col("n_tok"), col("bucket"),
        // pure integer division (div, not /): / on longs is double division
        expr(s"(seq - __first) div $batchSize").as("batch_id"),
        greatest(col("bucket") - col("n_tok"), lit(0L)).as("padding"))
      .orderBy(col("bucket"), col(idCol))
  }

  /** Distinctive terms per source — Monroe/Colaresi/Quinn (2008) log-odds
    * with an informative Dirichlet prior: which words characterize THIS
    * source against the rest of the corpus, z-scored so high-frequency
    * words don't drown the list (raw tf-idf/PMI both misbehave here; the
    * prior shrinks rare-word noise, the variance term rescales the rest) —
    * the corpus-exploration readout behind "what even IS this source".
    *
    * Two count aggregates (source×token, then token) from ONE
    * tokenization pass; totals ride a 1-row broadcast; every z is a
    * fixed double chain over exact counts + literals, quantized
    * DECIMAL(18,9) before the per-source top-k (row_number →
    * WindowGroupLimit prunes before the exchange). */
  def distinctiveTerms(docs: DataFrame, sourceCol: String, textCol: String,
                       topK: Int = 3, alpha0: Double = 500.0,
                       minCount: Long = 20): DataFrame = {
    val toks = docs.select(col(sourceCol).as("source"),
      explode(expr(s"regexp_extract_all(lower($textCol), '[a-z0-9]+', 0)"))
        .as("tok"))
    // pin the (source, token) counts: three consumers would otherwise each
    // re-run the corpus tokenization (localCheckpoint, the tfidf recipe)
    val ys = toks.groupBy("source", "tok").agg(count(lit(1)).as("ysi"))
      .localCheckpoint()
    val yg = ys.groupBy("tok").agg(sum("ysi").as("yi"))
      .where(col("yi") >= minCount)
    val ns = ys.groupBy("source").agg(sum("ysi").as("nsrc"))
    val tot = yg.agg(sum("yi").as("__n"))
    def d(c: Column) = c.cast("double")
    val ai = lit(alpha0) * d(col("yi")) / d(col("__n"))
    val numS = d(col("ysi")) + ai
    val denS = d(col("nsrc")) + lit(alpha0) - d(col("ysi")) - ai
    val numG = d(col("yi")) + ai
    val denG = d(col("__n")) + lit(alpha0) - d(col("yi")) - ai
    val z = ((log(numS / denS) - log(numG / denG)) /
      sqrt(lit(1.0) / numS + lit(1.0) / numG)).cast("decimal(18,9)")
    val w = Window.partitionBy("source")
      .orderBy(col("z").desc, col("tok"))
    ys.join(yg, "tok").join(ns, "source").crossJoin(broadcast(tot))
      .select(col("source"), col("tok"), col("ysi"), z.as("z"))
      .withColumn("rk", row_number().over(w))
      .where(col("rk") <= topK)
      .select(col("source"), col("rk"), col("tok"), col("ysi"),
        col("z").cast("double").as("z"))
      .orderBy("source", "rk")
  }

  /** BPE merge-pair counting — the inner loop of byte-pair-encoding tokenizer
    * training (Sennrich et al. 2016, nmt reference implementation): corpus →
    * word frequency table → adjacent-symbol-pair counts weighted by word
    * frequency; the top pair is the next merge rule. One training iteration
    * = this count + a re-segmentation, driver-looped exactly like kmeans'
    * Lloyd rounds (the per-iteration result is one row).
    *
    * The scale property that makes BPE trainable at 100 TB lives in the FIRST
    * aggregate: the corpus collapses to its distinct-word table (vocab-sized,
    * ~10⁶–10⁸ rows regardless of corpus bytes) with map-side partial counts,
    * and every later stage — character pair explode, pair aggregate, top-k —
    * runs on that table, never on the corpus again. Pair explode fanout is
    * word_len-1 per distinct word; the final top-k is a TakeOrderedAndProject
    * (no global sort). Ties break (count desc, left asc, right asc) so the
    * cut is deterministic for the oracle. */
  def bpePairCounts(docs: DataFrame, textCol: String, k: Int): DataFrame = {
    val wc = docs.select(explode(tokens(col(textCol))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("c"))
      .where(length(col("w")) >= 2)
    wc.select(col("c"),
        explode(sequence(lit(1), length(col("w")) - 1)).as("i"), col("w"))
      .select(col("w").substr(col("i"), lit(1)).as("left_sym"),
        col("w").substr(col("i") + 1, lit(1)).as("right_sym"), col("c"))
      .groupBy("left_sym", "right_sym").agg(sum("c").as("pair_count"))
      .orderBy(desc("pair_count"), asc("left_sym"), asc("right_sym"))
      .limit(k)
  }

  /** Greedy BPE segmentation of one word under an ordered merge table
    * (reference semantics, Sennrich et al. 2016: repeatedly take the
    * LOWEST-RANK pair present anywhere in the word and merge ALL its
    * occurrences left-to-right non-overlapping). O(len²·merges) worst case,
    * fine at word length ≤ a few dozen. */
  private[graft] def segmentGreedy(
      w: String, rank: Map[(String, String), Int]): Array[String] = {
    var syms: Array[String] = w.map(_.toString).toArray
    var continue = syms.length > 1
    while (continue) {
      var bestRank = Int.MaxValue
      var a: String = null
      var b: String = null
      var i = 0
      while (i < syms.length - 1) {
        val r = rank.getOrElse((syms(i), syms(i + 1)), Int.MaxValue)
        if (r < bestRank) { bestRank = r; a = syms(i); b = syms(i + 1) }
        i += 1
      }
      if (bestRank == Int.MaxValue) continue = false
      else {
        val out = scala.collection.mutable.ArrayBuffer.empty[String]
        var j = 0
        while (j < syms.length) {
          if (j < syms.length - 1 && syms(j) == a && syms(j + 1) == b) {
            out += a + b; j += 2
          } else { out += syms(j); j += 1 }
        }
        syms = out.toArray
        continue = syms.length > 1
      }
    }
    syms
  }

  /** Distributed BPE tokenizer training (the q221/q222 trainer): learn
    * `nMerges` merge rules by iterating [[bpePairCounts]]'s count over the
    * CURRENT segmentation. The corpus-sized work happens ONCE, building the
    * cached word-frequency table; each round is one vocab-sized job
    * (segment each distinct word under the merges so far, emit adjacent
    * symbol pairs weighted by word frequency, aggregate) and a top-K
    * collect. Ties break (count desc, pair asc) so the learned table is
    * deterministic. Returns (rank, left_sym, right_sym, pair_count).
    *
    * Sequential BPE takes ONE merge per round (a 32k-merge vocab = 32k job
    * waves); this trainer learns the IDENTICAL merge list by accepting,
    * per round, the maximal safe PREFIX of the pair ranking — the
    * SentencePiece-style batching trick with the heuristics replaced by
    * sound bounds (CurationSpec pins the merge list against
    * `SparkEntry.bpeSequentialReference` and across batch sizes, `batchK`
    * = 1 being the one-merge-per-round schedule):
    *
    *  - prefix only: candidates are scanned in the sequential selection
    *    order (count desc, pair asc) and the batch CUTS at the first
    *    unsafe candidate — skipping would reorder selections;
    *  - symbol-disjoint: a candidate sharing a symbol with an accepted
    *    merge (or its output) may have had its count changed — cut;
    *  - fresh output: an accepted merge whose concatenated output string
    *    already names an existing symbol could increment EXISTING pairs
    *    (not just create new ones), voiding the bounds — cut after it;
    *  - new-pair bound: a merge (a,b,c) can only create pairs touching
    *    its output symbol, each bounded by min(c, max(maxL(a), maxR(b)))
    *    where maxL(s)/maxR(s) are the largest current counts of any pair
    *    with s on the right/left — a later candidate is safe only if its
    *    count is STRICTLY above every accepted bound (ties could lose the
    *    lexicographic tie-break to an unseen new pair — cut).
    *
    * The bounds come from the collected top-K itself at ZERO extra cost:
    * any pair outside the collect has count ≤ the K-th collected count,
    * so maxL(s) ≤ max(max over top-K pairs ending in s, c_K) — sound, and
    * tight exactly where batching matters (low tail counts). Each round
    * is therefore ONE vocab-sized segmentation job + one K-row collect —
    * never MORE rounds than merges, ≥1 merge guaranteed per round. On
    * concentrated early-natural-language frontiers the bound correctly
    * cuts batches at 1 (sequential BPE genuinely can pick a just-created
    * pair next — e.g. (t,h) then (th,e) — so larger batches there would
    * be WRONG, not just risky); symbol-diverse frontiers
    * (vocab tails, multi-domain corpora, the mid-training regime) batch
    * fat, which is where the 32k-merge wave count collapses. */
  def bpeTrainBatched(docs: DataFrame, textCol: String, nMerges: Int,
                      batchK: Int = 128): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val wc = docs.select(explode(tokens(col(textCol))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("c"))
      .where(length(col("w")) >= 2)
      .as[(String, Long)]
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val merges = scala.collection.mutable.ArrayBuffer.empty[(String, String, Long)]
    val mergeOutputs = scala.collection.mutable.HashSet.empty[String]
    var exhausted = false
    while (merges.size < nMerges && !exhausted) {
      val rank = merges.zipWithIndex
        .map { case ((a, b, _), r) => (a, b) -> r }.toMap
      val bc = spark.sparkContext.broadcast(rank)
      val top = wc.mapPartitions { it =>
          val r = bc.value
          it.flatMap { case (w, c) =>
            val syms = segmentGreedy(w, r)
            (0 until syms.length - 1).iterator.map(i => ((syms(i), syms(i + 1)), c))
          }
        }
        .groupByKey(_._1).mapValues(_._2).reduceGroups(_ + _)
        .map { case ((a, b), n) => (a, b, n) }
        .toDF("a", "b", "c")
        .orderBy(desc("c"), asc("a"), asc("b")).limit(batchK)
        .as[(String, String, Long)].collect()
      // the round's broadcast (a growing rank map) is dead once the collect
      // returns; without an explicit destroy every round would leave one
      // live until a periodic driver GC. Public destroy() delegates to
      // destroy(blocking = false) — no per-round RPC wait
      bc.destroy()
      if (top.isEmpty) exhausted = true
      else {
        // sound new-pair bounds from the collect alone: a pair OUTSIDE the
        // top-K has count ≤ cK (with < batchK rows collected, the collect
        // is exhaustive and cK = 0), so
        //   maxL(s) ≤ max(top-K pairs ending in s, cK)
        //   maxR(s) ≤ max(top-K pairs starting with s, cK)
        val cK = if (top.length < batchK) 0L else top.last._3
        val maxLk = top.groupBy(_._2).map { case (s, ps) => s -> ps.map(_._3).max }
        val maxRk = top.groupBy(_._1).map { case (s, ps) => s -> ps.map(_._3).max }
        def bound(a: String, b: String, c: Long): Long = math.min(c,
          math.max(math.max(maxLk.getOrElse(a, 0L), maxRk.getOrElse(b, 0L)), cK))
        val used = scala.collection.mutable.HashSet.empty[String]
        var newBound = Long.MinValue
        var cut = false
        val it = top.iterator
        while (!cut && it.hasNext && merges.size < nMerges) {
          val (a, b, c) = it.next()
          val out = a + b
          if (used.isEmpty) {
            // the top-1 candidate IS the sequential choice — always taken
            merges += ((a, b, c))
            val fresh = !mergeOutputs.contains(out)
            mergeOutputs += out
            used += a; used += b; used += out
            newBound = bound(a, b, c)
            if (!fresh) cut = true // output collides with an existing symbol
          } else if (!used(a) && !used(b) && !used(out) &&
            !mergeOutputs.contains(out) && c > newBound) {
            merges += ((a, b, c))
            mergeOutputs += out
            used += a; used += b; used += out
            newBound = math.max(newBound, bound(a, b, c))
          } else cut = true
        }
      }
    }
    wc.unpersist(false)
    merges.zipWithIndex
      .map { case ((a, b, n), r) => (r + 1, a, b, n) }.toSeq
      .toDF("rank", "left_sym", "right_sym", "pair_count")
  }

  /** BPE encode (apply a trained merge table): per-document subword count
    * and compression ratio — the "what will this corpus cost in tokens"
    * estimator run before committing a training mix, with the REAL
    * tokenizer's greedy semantics rather than the whitespace/regex proxies
    * in [[TextAnalysis.qualityScore]]. One typed pass per partition (the
    * langId precedent: a pure-expression greedy loop is inexpressible in
    * Catalyst); merge ranks ride a broadcast; no shuffle beyond the final
    * ORDER BY. Memoizing per-partition segmentation by distinct word would
    * cut repeated work further if profiles demand it. */
  def bpeEncode(docs: DataFrame, idCol: String, textCol: String,
                merges: Seq[(String, String)]): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val rank = merges.zipWithIndex.map { case (p, r) => p -> r }.toMap
    val bc = spark.sparkContext.broadcast(rank)
    val tokRe = java.util.regex.Pattern.compile("[a-z0-9]+")
    docs.select(col(idCol).cast("long"), col(textCol)).as[(Long, String)]
      .mapPartitions { it =>
        val r = bc.value
        it.map { case (id, text) =>
          // Locale.ROOT: this line is load-bearing for the q222 oracle
          // contract — a tr_TR default locale would dot-strip 'I' here
          // while Spark's lower() and the oracle's reference chain stay
          // locale-independent
          val m = tokRe.matcher(if (text == null) ""
            else text.toLowerCase(java.util.Locale.ROOT))
          var nSub = 0L
          var nChars = 0L
          val memo = scala.collection.mutable.HashMap.empty[String, Int]
          while (m.find()) {
            val w = m.group()
            nSub += memo.getOrElseUpdate(w, segmentGreedy(w, r).length)
            nChars += w.length
          }
          (id, nSub, nChars)
        }
      }
      .toDF(idCol, "n_subwords", "n_chars_alnum")
      .withColumn("chars_per_subword",
        when(col("n_subwords") > 0,
          (col("n_chars_alnum").cast("double") / col("n_subwords"))
            .cast("decimal(18,4)").cast("double")))
      .orderBy(idCol)
  }

  /** Gopher-style document quality rules (Rae et al. 2021, "Scaling
    * Language Models", Table A1): explicit per-rule flags + the composed
    * verdict, so a corpus job can report WHICH rule rejected a document,
    * not just that one did — the audit trail regulators of training data
    * actually ask for. Rules here: word count in [minWords, maxWords],
    * mean word length in [3, 10], ≥80% alphabetic words, and ≥2 distinct
    * stop words present.
    *
    * One projection pass: the token array binds to a real column first
    * (regex-once rule), every metric is a codegen'd higher-order function
    * over it, and ratios divide exact integers — no UDFs, no shuffle at
    * all (scan → project), so at 100 TB this runs at scan speed.
    * [[curate]] remains the cheap length/dedup gate; this is the
    * published-filter audit layer on top. */
  def gopherRules(docs: DataFrame, idCol: String, textCol: String,
                  minWords: Int = 50, maxWords: Int = 100000): DataFrame = {
    val stops = Seq("the", "be", "to", "of", "and", "that", "have", "with", "a")
    val toks = docs.select(col(idCol), tokens(col(textCol)).as("ts"))
    toks.select(
      col(idCol),
      size(col("ts")).cast("long").as("word_count"),
      (aggregate(col("ts"), lit(0L), (acc, w) => acc + length(w))
        .cast("double") / nullif(size(col("ts")), lit(0)).cast("double"))
        .as("mean_word_len"),
      (size(filter(col("ts"), w => w.rlike("[a-z]"))).cast("double") /
        nullif(size(col("ts")), lit(0)).cast("double")).as("alpha_frac"),
      size(array_intersect(array_distinct(col("ts")),
        array(stops.map(lit): _*))).cast("long").as("n_stopwords"))
      .select(
        col(idCol), col("word_count"), col("mean_word_len"),
        col("alpha_frac"), col("n_stopwords"),
        (col("word_count") >= minWords && col("word_count") <= maxWords)
          .as("ok_word_count"),
        (col("mean_word_len") >= 3.0 && col("mean_word_len") <= 10.0)
          .as("ok_mean_word_len"),
        (col("alpha_frac") >= 0.8).as("ok_alpha"),
        (col("n_stopwords") >= 2).as("ok_stopwords"))
      .withColumn("passes",
        col("ok_word_count") && col("ok_mean_word_len") &&
          col("ok_alpha") && col("ok_stopwords"))
      .orderBy(idCol)
  }

  /** C4-style line-shape filters (Raffel et al. 2020, §2.2) — the
    * STRUCTURAL companion of [[gopherRules]]' token statistics: C4
    * judges documents by their LINES (terminal punctuation, stub lines)
    * and by tell-tale substrings (lorem-ipsum placeholder text, code
    * braces, javascript-warning boilerplate). Together the two cover
    * the published web-corpus cleaning recipe.
    *
    * One scan-stage projection per document — line array built once,
    * every flag derives from codegen'd higher-order array functions and
    * substring predicates; no shuffle at all until the caller filters.
    * All fractions are exact-integer ratios double-divided once and
    * quantized 4 dp. Lines are trimmed before testing; BLANK lines are
    * excluded from the line population (a paragraph gap is formatting,
    * not content). Documents with no non-blank lines fail `passes`. */
  def c4Rules(docs: DataFrame, idCol: String, textCol: String,
              minSentences: Int = 3): DataFrame = {
    val lines0 = transform(split(col(textCol), "\n"), l => trim(l))
    val lines = filter(lines0, l => length(l) > 0)
    val nLines = size(lines)
    val nTerminal = size(filter(lines, l => l.rlike("[.!?\"]$")))
    // a line is a stub if it has fewer than 3 whitespace-separated words
    val nStub = size(filter(lines, l => !l.rlike("(\\S+\\s+){2}")))
    val lower0 = lower(col(textCol))
    val nSentences = length(col(textCol)) -
      length(regexp_replace(col(textCol), "[.!?]", ""))
    docs.select(col(idCol),
        nLines.cast("long").as("n_lines"),
        nSentences.cast("long").as("n_sentences"),
        when(nLines > 0, (nTerminal.cast("double") / nLines.cast("double"))
          .cast("decimal(18,4)").cast("double")).as("terminal_frac"),
        when(nLines > 0, (nStub.cast("double") / nLines.cast("double"))
          .cast("decimal(18,4)").cast("double")).as("stub_frac"),
        lower0.contains("lorem ipsum").as("has_lorem"),
        col(textCol).contains("{").as("has_brace"),
        lower0.contains("javascript").as("has_js_warning"))
      .withColumn("passes",
        (coalesce(col("terminal_frac"), lit(0d)) >= 0.5d) &&
          col("n_sentences") >= minSentences &&
          !col("has_lorem") && !col("has_brace") && !col("has_js_warning"))
      .orderBy(idCol)
  }

  /** Segment-level dedup with document reconstruction (the CCNet/RefinedWeb
    * paragraph-dedup shape): split each document into fixed `segTokens`-word
    * segments, hash each segment, count how many DISTINCT documents carry
    * each hash corpus-wide, drop segments shared by more than `maxDocs`
    * documents, and re-assemble the survivors in original order. Unlike
    * [[Dedup.exact]] (whole-doc) or [[Dedup.duplicatedSpans]] (report-only),
    * this EDITS the corpus — the boilerplate-removal pass an LLM data
    * pipeline runs before training.
    *
    * Scale shape: segments explode once (gram built inside transform so
    * exploded rows never carry the token array); the hash-frequency count
    * shuffles (hash, doc) pairs with map-side partials; the keep/drop join
    * is hash-keyed (AQE broadcasts a small dup set); re-assembly is ONE
    * doc-keyed shuffle of kept segments folded back through a sorted
    * collect. Nothing is corpus-quadratic and no driver state exists. */
  def segmentDedup(docs: DataFrame, idCol: String, textCol: String,
                   segTokens: Int = 8, maxDocs: Int = 1): DataFrame = {
    val tok = docs.select(col(idCol), tokens(col(textCol)).as("__t"))
    val t = col("__t")
    val nSeg = ceil(size(t).cast("double") / segTokens).cast("int")
    val segs = tok
      .select(col(idCol), explode(
        when(size(t) > 0, transform(
          sequence(lit(0), nSeg - 1),
          s => struct(s.cast("long").as("segpos"),
            concat_ws(" ", slice(t, s * segTokens + 1, lit(segTokens))).as("segtext"))))
          .otherwise(array().cast("array<struct<segpos:long,segtext:string>>")))
        .as("seg"))
      .select(col(idCol), col("seg.segpos").as("segpos"),
        col("seg.segtext").as("segtext"), md5(col("seg.segtext")).as("h"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nd = segs.select(col(idCol), col("h")).distinct()
      .groupBy("h").agg(count(lit(1)).as("nd"))
    val out = segs.join(nd, Seq("h"))
      .groupBy(idCol)
      .agg(
        count(lit(1)).as("n_segments"),
        count(when(col("nd") > maxDocs, 1)).as("n_removed"),
        concat_ws(" ", transform(
          array_sort(collect_list(when(col("nd") <= maxDocs,
            struct(col("segpos"), col("segtext"))))),
          s => s.getField("segtext"))).as("kept_text"))
      .select(col(idCol), col("kept_text"), col("n_segments"), col("n_removed"))
      .orderBy(idCol)
    val materialized = out.localCheckpoint(true)
    segs.unpersist()
    materialized
  }

  /** URL canonicalization — the first, cheapest dedup stage of every web
    * crawl pipeline (before ANY content hashing): scheme/host lowercase,
    * default :80/:443 port strip, fragment strip, tracking parameters
    * (utm_*, fbclid, gclid) dropped, remaining query params SORTED (order
    * is semantically irrelevant), trailing slash normalized. Two fetches
    * of the same page under cosmetically different URLs collapse to one
    * canonical key; path case is PRESERVED (paths are case-sensitive,
    * hosts are not — the RFC 3986 split).
    *
    * Pure column expressions end to end — regex splits + higher-order
    * array filter/sort — so the whole normalization runs inside
    * whole-stage codegen on the scan; the only shuffle is the final
    * canonical-key aggregate. Returns one row per canonical URL with
    * ≥2 variants (the dedup candidates), variant count + ids. */
  def urlDedup(urls: DataFrame, idCol: String, urlCol: String): DataFrame = {
    val u = col(urlCol)
    val scheme = lower(regexp_extract(u, "^([A-Za-z][A-Za-z0-9+.-]*)://", 1))
    val noFrag = regexp_replace(u, "#.*$", "")
    val authority = regexp_replace(
      lower(regexp_extract(noFrag, "^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)", 1)),
      ":(443|80)$", "")
    val path = regexp_replace(
      regexp_extract(noFrag, "^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]+([^?#]*)", 1),
      "/$", "")
    val rawQuery = regexp_extract(noFrag, "\\?([^#]*)", 1)
    val keptParams = array_sort(filter(split(rawQuery, "&"), p =>
      !(p.startsWith("utm_") || p.startsWith("fbclid=") ||
        p.startsWith("gclid=") || p === "")))
    val canonical = concat(scheme, lit("://"), authority, path,
      when(size(keptParams) > 0, concat(lit("?"), array_join(keptParams, "&")))
        .otherwise(lit("")))
    urls.select(col(idCol).as("id"), canonical.as("canonical"))
      .groupBy("canonical")
      .agg(count(lit(1)).as("n_variants"),
        sort_array(collect_list(col("id"))).as("ids"))
      .filter(col("n_variants") >= 2)
      .select(col("canonical"), col("n_variants"),
        concat_ws(",", transform(col("ids"), _.cast("string")))
          .as("id_list")) // engine-boundary: no arrays
      .orderBy("canonical")
  }

  /** RAKE keyword extraction (Rose et al. 2010), corpus-level: candidate
    * phrases are maximal stopword-free token runs; each word scores
    * deg/freq where freq counts its phrase occurrences and deg sums the
    * lengths of the phrases it appears in (so words that travel in long
    * multi-word phrases outrank equally frequent loners); a phrase scores
    * the sum of its member words' scores. The unsupervised keyword pass a
    * curation pipeline runs to label what a source is ABOUT before any
    * model sees it — [[distinctiveTerms]] asks "what distinguishes this
    * source", RAKE asks "what are its noun phrases".
    *
    * Shape: one posexplode + one running stopword count (per-doc window)
    * makes phrase ids; word stats are one token-grain aggregate; scores
    * quantize deg/freq to DECIMAL(18,9) before the per-phrase sum (exact,
    * order-free). Identical phrases share a score by construction, so the
    * corpus rollup is a plain groupBy. Top-K total order (score, phrase). */
  def rakeKeywords(docs: DataFrame, idCol: String, textCol: String,
                   stopwords: Seq[String], topK: Int = 30): DataFrame = {
    require(stopwords.nonEmpty, "stopwords must be non-empty")
    val toks = docs
      .select(col(idCol).as("doc"), tokens(col(textCol)).as("toks"))
      .select(col("doc"), posexplode(col("toks")).as(Seq("pos", "tok")))
    val w = Window.partitionBy("doc").orderBy("pos")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val marked = toks
      .withColumn("stop", col("tok").isin(stopwords: _*))
      .withColumn("pid", sum(when(col("stop"), 1).otherwise(0)).over(w))
      .filter(!col("stop"))
      .localCheckpoint() // reused: phrase strings, word stats, member join
    val phrases = marked.groupBy("doc", "pid").agg(
      count(lit(1)).as("plen"),
      concat_ws(" ", transform(
        array_sort(collect_list(struct(col("pos"), col("tok")))),
        s => s.getField("tok"))).as("phrase"))
    val members = marked.select("doc", "pid", "tok")
      .join(phrases, Seq("doc", "pid"))
    val wordScores = members.groupBy("tok")
      .agg(count(lit(1)).as("freq"), sum("plen").as("deg"))
      .select(col("tok"),
        (col("deg").cast("double") / col("freq").cast("double"))
          .cast("decimal(18,9)").as("ws"))
    members.join(wordScores, "tok")
      .groupBy("doc", "pid", "phrase").agg(sum("ws").as("s"))
      .groupBy("phrase")
      .agg(count(lit(1)).as("n_occurrences"), max("s").as("s"))
      .select(col("phrase"), col("n_occurrences"),
        col("s").cast("double").as("score"))
      .orderBy(col("score").desc, col("phrase"))
      .limit(topK)
  }

  /** The fixed stopword list [[rakeKeywords]]' driver query uses — kept as
    * a named constant so the DuckDB oracle mirrors the exact same set. */
  val RakeStopwords: Seq[String] = Seq(
    "the", "of", "and", "a", "to", "in", "is", "it", "for", "on", "with",
    "as", "at", "by", "an", "be", "this", "that", "from", "or", "are",
    "was", "were", "will", "has", "have", "had", "not", "but", "they")

  /** DSIR/CCNet-style domain log-odds scoring — data selection for a
    * target domain (Xie et al. 2023 "Data Selection for Language Models
    * via Importance Resampling"; Wenzek et al. 2019 CCNet): train two
    * add-one-smoothed unigram LMs — target (the rows matching
    * `targetFilter`, e.g. the wiki-like source) and background (the
    * rest) — and score EVERY document by its per-token mean
    * ln p_target(t) − ln p_background(t). Positive = reads like the
    * target domain; rank by score to pick the next training tranche.
    * The two-class upgrade of [[unigramLogLikelihood]]'s one-corpus
    * perplexity proxy.
    *
    * One token explode feeds BOTH model counts (a single conditional
    * aggregate — the q05 trick) and the scoring join; smoothing is
    * add-one over the JOINT vocabulary so every observed token has both
    * probabilities (the scoring join stays inner). Each ln-odds term
    * quantizes to DECIMAL(28,9) before its exact per-doc sum (order-free
    * at any partitioning); ONE double division per doc. The 1-row
    * totals frame rides a broadcast (plan-contract allowlisted). */
  def domainLogOdds(docs: DataFrame, idCol: String, textCol: String,
                    targetFilter: Column): DataFrame = {
    val dt = docs.select(col(idCol), targetFilter.as("is_t"),
      explode(tokens(col(textCol))).as("tok"))
    val m = dt.groupBy("tok").agg(
      count(when(col("is_t"), lit(1))).as("ct"),
      count(when(!col("is_t"), lit(1))).as("cb"))
    val totals = m.agg(sum("ct").as("__nt"), sum("cb").as("__nb"),
      count(lit(1)).as("__v"))
    dt.join(m, "tok")
      .crossJoin(broadcast(totals))
      .select(col(idCol),
        (log((col("ct") + lit(1)).cast("double") /
            (col("__nt") + col("__v")).cast("double")) -
          log((col("cb") + lit(1)).cast("double") /
            (col("__nb") + col("__v")).cast("double")))
          .cast("decimal(28,9)").as("lo"))
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_tokens"), sum("lo").as("s"))
      .select(col(idCol), col("n_tokens"),
        (col("s").cast("double") / col("n_tokens"))
          .cast("decimal(18,6)").cast("double").as("log_odds"))
      .orderBy(idCol)
  }
}

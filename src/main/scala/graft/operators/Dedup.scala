package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.Cols

/** Deduplication operators for training-data pipelines.
  *
  * Scale design: every near-dup path is bucket-first — candidates are only
  * generated inside an LSH bucket, so the shuffle key is the band/bucket hash
  * and nothing is ever compared all-pairs. At 100 TB the cost profile is:
  * one scan + one shuffle on band hash + within-bucket pairing (bucket sizes
  * are bounded by `maxBucket` to keep a pathological hot bucket from going
  * quadratic — dropped buckets are almost-certainly-identical content that
  * exact dedup already collapses).
  */
object Dedup {

  /** The ONE set of MinHash-LSH banding parameters shared by every default:
    * [[minhashCandidates]], [[minhashLsh]], [[minhashBandIndex]], and the
    * CapAudit occupancy check all read these constants, so an audit can
    * never silently measure a different banding than the registered
    * queries run (round-9 advisory: the audit previously relied on two
    * functions' literal defaults agreeing by coincidence). */
  val LshNumHashes: Int = 128
  val LshBands: Int = 32
  val LshShingleK: Int = 3
  val LshSeed: Long = 42L
  val LshMaxBucket: Int = 1000

  /** Exact dedup by content hash, keep-first (lowest id). One shuffle. */
  def exact(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(md5(col(textCol)).as("content_hash"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))
      .orderBy("keep_id")

  /** Unicode-equivalence dedup: [[exact]]'s shape over an NFC-normalized,
    * case-folded key — catches the "same text, different byte sequence"
    * copies byte hashing misses (é composed vs e+◌́ decomposed, case
    * variants), the canonicalization layer in front of every text-dedup
    * stack. NFC runs in a typed map (the JVM Normalizer is the only
    * correct NFC here — Spark has no builtin; still map-side,
    * shuffle-free), lower-casing is Locale.ROOT to match the oracle's
    * locale-free lower(). One hash-aggregate shuffle, exactly [[exact]]. */
  def normalizedExact(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    import df.sparkSession.implicits._
    df.select(col(idCol).cast("long"), col(textCol)).as[(Long, String)]
      .map { case (id, t) =>
        (id, java.text.Normalizer.normalize(
          Option(t).getOrElse("").toLowerCase(java.util.Locale.ROOT),
          java.text.Normalizer.Form.NFC))
      }
      .toDF(idCol, "__norm")
      .groupBy(md5(col("__norm")).as("norm_hash"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_variants"))
      .orderBy("keep_id")
  }

  // ---------------------------------------------------------------- MinHash

  /** Deterministic 64-bit FNV-1a — stable across JVMs (String.hashCode is
    * stable too, but only 32 bits). */
  private[graft] def fnv1a64(s: String): Long = {
    var h = 0xcbf29ce484222325L
    var i = 0
    while (i < s.length) { h ^= s.charAt(i).toLong; h *= 0x100000001b3L; i += 1 }
    h
  }

  /** splitmix64 finalizer — cheap, well-mixed, deterministic. */
  private[graft] def mix64(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  /** Token k-shingle hashes WITHOUT building shingle strings: hash each token
    * once (fnv1a64), then mix the k token hashes per window — ~k× less
    * allocation than mkString+hash per shingle on long documents. */
  private[graft] def shingles(text: String, k: Int): Array[Long] = {
    val toks = text.toLowerCase.split("\\s+").filter(_.nonEmpty)
    val th = new Array[Long](toks.length)
    var i = 0
    while (i < toks.length) { th(i) = fnv1a64(toks(i)); i += 1 }
    if (toks.length < k) {
      var h = 0xcbf29ce484222325L
      var j = 0
      while (j < th.length) { h = mix64(h ^ th(j)); j += 1 }
      Array(h)
    } else {
      val out = new Array[Long](toks.length - k + 1)
      var s = 0
      while (s < out.length) {
        var h = 0xcbf29ce484222325L
        var j = s
        while (j < s + k) { h = mix64(h ^ th(j)); j += 1 }
        out(s) = h
        s += 1
      }
      out.distinct
    }
  }

  /** Densified one-permutation MinHash (Li et al. 2012; Shrivastava & Li 2014
    * rotation densification): each shingle is hashed ONCE and routed to one of
    * `numHashes` bins, keeping the min per bin; empty bins borrow from the
    * next filled bin. O(shingles) instead of O(shingles × numHashes) — the
    * 128-perm classic costs 128× more CPU for the same banding behavior.
    * Collision probability per slot still ≈ Jaccard, so est_jaccard and the
    * band threshold curve are unchanged. */
  private[graft] def minhashSignature(sh: Array[Long], numHashes: Int, seed: Long): Array[Long] = {
    val Empty = Long.MaxValue
    val sig = Array.fill(numHashes)(Empty)
    var i = 0
    while (i < sh.length) {
      val h = mix64(sh(i) ^ seed)
      val bin = ((h >>> 33) % numHashes).toInt // top bits pick the bin
      val v = h & 0x7fffffffffffffffL          // low 63 bits are the rank value
      if (v < sig(bin)) sig(bin) = v
      i += 1
    }
    // rotation densification: empty bin j takes bin (j+t) mod k's value,
    // re-mixed with the distance so borrowed values stay distinct per slot
    var j = 0
    while (j < numHashes) {
      if (sig(j) == Empty) {
        var t = 1
        while (t < numHashes && sig((j + t) % numHashes) == Empty) t += 1
        sig(j) = if (t == numHashes) mix64(seed) // no shingles at all
                 else mix64(sig((j + t) % numHashes) + t)
      }
      j += 1
    }
    sig
  }

  /** (id, signature) dataset — the compute-heavy, shuffle-free stage. */
  def minhashSignatures(df: DataFrame, idCol: String, textCol: String,
                        numHashes: Int = LshNumHashes, shingleK: Int = LshShingleK,
                        seed: Long = LshSeed): Dataset[(Long, Array[Long])] = {
    import df.sparkSession.implicits._
    df.select(col(idCol).cast("long"), col(textCol)).as[(Long, String)]
      .mapPartitions { it =>
        it.map { case (id, text) =>
          (id, minhashSignature(shingles(Option(text).getOrElse(""), shingleK), numHashes, seed))
        }
      }
  }

  /** MinHash+LSH candidate pairs with signature-estimated Jaccard.
    * Pipeline: signature (no shuffle) → explode to (band, bandHash, id) —
    * ids ONLY, the 1 KB signature is never duplicated ×bands through the
    * shuffle → groupBy band key (THE shuffle, ~16 bytes × bands per doc) →
    * within-bucket id pairing → distinct pairs → join the signature table
    * back (pairs ≪ corpus) to estimate Jaccard. Never joins the corpus
    * against itself; at 100 TB the shuffle volume is bands×8B per doc, not
    * bands×signature. */
  def minhashLsh(df: DataFrame, idCol: String, textCol: String,
                 numHashes: Int = LshNumHashes, bands: Int = LshBands, shingleK: Int = LshShingleK,
                 seed: Long = LshSeed, maxBucket: Int = LshMaxBucket): DataFrame = {
    import df.sparkSession.implicits._
    val (pairs, sigs) = lshCandidatePairs(df, idCol, textCol, numHashes, bands,
      shingleK, seed, maxBucket)

    val result = pairs
      .join(sigs.select(col("sid").as("doc_id_a"), col("sig").as("sig_a")), "doc_id_a")
      .join(sigs.select(col("sid").as("doc_id_b"), col("sig").as("sig_b")), "doc_id_b")
      .select("doc_id_a", "doc_id_b", "sig_a", "sig_b") // join reorders key cols first
      .as[(Long, Long, Array[Long], Array[Long])]
      .map { case (ida, idb, siga, sigb) =>
        var eq = 0; var k = 0
        while (k < siga.length) { if (siga(k) == sigb(k)) eq += 1; k += 1 }
        (ida, idb, eq.toDouble / siga.length)
      }
      .toDF("doc_id_a", "doc_id_b", "est_jaccard")
      .orderBy("doc_id_a", "doc_id_b")
    materializeAndRelease(result, sigs)
  }

  /** Candidate pairs ONLY — for pipelines that re-rank with exact jaccard
    * ([[ngramJaccard]]) and would discard `est_jaccard`: skips the two
    * signature joins + similarity map that [[minhashLsh]] runs on top of the
    * identical banding. */
  def minhashCandidates(df: DataFrame, idCol: String, textCol: String,
                        numHashes: Int = LshNumHashes, bands: Int = LshBands, shingleK: Int = LshShingleK,
                        seed: Long = LshSeed, maxBucket: Int = LshMaxBucket): DataFrame = {
    val (pairs, sigs) = lshCandidatePairs(df, idCol, textCol, numHashes, bands,
      shingleK, seed, maxBucket)
    materializeAndRelease(pairs, sigs)
  }

  /** Per-source dedup observability report: raw rows, byte-exact unique,
    * unicode-equivalent unique, and the duplication rates — the ingest
    * dashboard row that says WHICH source is flooding the corpus with
    * copies (and how much of it only canonicalization can see) before
    * anyone pays for near-dup passes on it. One scan: the NFC key is
    * computed once map-side ([[normalizedExact]]'s key), both distincts
    * ride one aggregate per source. */
  def dedupReportBySource(df: DataFrame, sourceCol: String, idCol: String,
                          textCol: String): DataFrame = {
    import df.sparkSession.implicits._
    df.select(col(sourceCol), col(idCol).cast("long"), col(textCol))
      .as[(String, Long, String)]
      .map { case (src, id, t) =>
        (src, id, t, java.text.Normalizer.normalize(
          Option(t).getOrElse("").toLowerCase(java.util.Locale.ROOT),
          java.text.Normalizer.Form.NFC))
      }
      .toDF("source", "id", "text", "__norm")
      .groupBy("source")
      .agg(count(lit(1)).as("n_raw"),
        countDistinct(md5(col("text"))).as("n_exact_unique"),
        countDistinct(md5(col("__norm"))).as("n_norm_unique"))
      .select(col("source"), col("n_raw"), col("n_exact_unique"),
        col("n_norm_unique"),
        (lit(1.0) - col("n_exact_unique").cast("double") /
          col("n_raw").cast("double")).as("exact_dup_rate"),
        (lit(1.0) - col("n_norm_unique").cast("double") /
          col("n_raw").cast("double")).as("norm_dup_rate"))
      .orderBy("source")
  }

  /** One signature's (band, band_hash) stream — the single banding
    * definition shared by batch LSH, the persisted index, and the
    * incremental probe (they MUST agree bit-for-bit or recall silently
    * dies). */
  private def bandHashes(sig: Array[Long], bands: Int,
                         rows: Int): Iterator[(Int, Long)] =
    (0 until bands).iterator.map { b =>
      var bandHash = mix64(b.toLong)
      var r = b * rows
      while (r < (b + 1) * rows) { bandHash = mix64(bandHash ^ sig(r)); r += 1 }
      (b, bandHash)
    }

  /** The persisted LSH band index of a corpus: (band, band_hash, sid) —
    * build (and write) ONCE, then let every incremental batch probe it via
    * [[minhashCandidatesAgainstIndex]] WITHOUT re-shingling or re-hashing
    * the corpus. At 100 TB this is the difference between an O(batch)
    * ingest step and an O(corpus) one. */
  def minhashBandIndex(df: DataFrame, idCol: String, textCol: String,
                       numHashes: Int = LshNumHashes, bands: Int = LshBands, shingleK: Int = LshShingleK,
                       seed: Long = LshSeed): DataFrame = {
    import df.sparkSession.implicits._
    val rows = numHashes / bands
    minhashSignatures(df, idCol, textCol, numHashes, shingleK, seed)
      .flatMap { case (id, sig) =>
        bandHashes(sig, bands, rows).map { case (b, h) => (b, h, id) }
      }.toDF("band", "band_hash", "sid")
  }

  /** Incremental near-dup candidates: band the NEW batch with the same
    * parameters and hash-join it against a prebuilt [[minhashBandIndex]] —
    * (corpus_id, new_id) pairs, corpus side never recomputed. Parameters
    * must match the index's build (same seed/bands/shingles) — the banding
    * is content-addressed, so a mismatch yields empty joins, not wrong
    * ones. Hot-bucket bounding is an index-build concern: run [[exact]]
    * dedup before indexing so identical content can't pile into one
    * band bucket. */
  def minhashCandidatesAgainstIndex(newDocs: DataFrame, idCol: String,
                                    textCol: String, index: DataFrame,
                                    numHashes: Int = LshNumHashes, bands: Int = LshBands,
                                    shingleK: Int = LshShingleK, seed: Long = LshSeed): DataFrame = {
    val probe = minhashBandIndex(newDocs, idCol, textCol, numHashes, bands,
      shingleK, seed)
    probe.select(col("band"), col("band_hash"), col("sid").as("doc_id_b"))
      .join(index.select(col("band"), col("band_hash"), col("sid").as("doc_id_a")),
        Seq("band", "band_hash"))
      .select("doc_id_a", "doc_id_b").distinct()
  }

  /** Shared LSH banding core: (candidate pairs, persisted signature index).
    * Callers MUST release `sigs` (via [[materializeAndRelease]]) once their
    * derived result is materialized. */
  private def lshCandidatePairs(df: DataFrame, idCol: String, textCol: String,
                                numHashes: Int, bands: Int, shingleK: Int,
                                seed: Long, maxBucket: Int): (DataFrame, DataFrame) = {
    import df.sparkSession.implicits._
    val rows = numHashes / bands
    val sigs = minhashSignatures(df, idCol, textCol, numHashes, shingleK, seed)
      .toDF("sid", "sig").persist() // the signature index: scanned by banding + both pair joins

    val banded = sigs.as[(Long, Array[Long])].flatMap { case (id, sig) =>
      bandHashes(sig, bands, numHashes / bands).map { case (b, h) => ((b, h), id) }
    }

    val pairs = banded.groupByKey(_._1)
      .flatMapGroups { (_, it) =>
        val members = it.map(_._2).toArray.sorted.take(maxBucket)
        for {
          i <- (0 until members.length).iterator
          j <- (i + 1) until members.length
        } yield (members(i), members(j))
      }
      .toDF("doc_id_a", "doc_id_b").distinct()
    (pairs, sigs)
  }

  /** Eagerly materialize the (candidate-sized) result, then unpersist the
    * corpus-sized intermediates — without this every call would leave its
    * cached signature/shingle tables pinned in executor storage for the
    * application lifetime. localCheckpoint also truncates the lineage, so
    * re-actions on the result never recompute the released inputs. */
  private def materializeAndRelease(result: DataFrame, release: DataFrame*): DataFrame = {
    val out = result.localCheckpoint(true)
    release.foreach(_.unpersist(false))
    out
  }

  /** Exact n-gram Jaccard re-rank of LSH candidates. Scale shape: shingles
    * are computed ONLY for ids that appear in a candidate pair (semi-join
    * against the exploded candidate id set first), so the corpus is scanned
    * once and the expensive shingling touches candidate rows only — at 100 TB
    * the candidate set is orders of magnitude smaller than the corpus. */
  def ngramJaccard(df: DataFrame, idCol: String, textCol: String,
                   candidates: DataFrame, shingleK: Int = LshShingleK,
                   threshold: Double = 0.5): DataFrame = {
    import df.sparkSession.implicits._
    val cands = candidates.persist() // tiny; referenced 2× (id set + pair join)
    val candIds = cands
      .select(explode(array(col("doc_id_a"), col("doc_id_b"))).as("cid")).distinct()
    val sh = df.select(col(idCol).cast("long"), col(textCol))
      .join(broadcast(candIds), col(idCol).cast("long") === col("cid"), "left_semi")
      .as[(Long, String)]
      .map { case (id, t) => (id, shingles(Option(t).getOrElse(""), shingleK)) }
      .toDF("sid", "sh")
      .persist() // reused by both sides of the pair join; candidate-sized, not corpus-sized
    val result = cands
      .join(sh.withColumnRenamed("sid", "doc_id_a").withColumnRenamed("sh", "sh_a"), "doc_id_a")
      .join(sh.withColumnRenamed("sid", "doc_id_b").withColumnRenamed("sh", "sh_b"), "doc_id_b")
      .select(col("doc_id_a"), col("doc_id_b"),
        (size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
         size(array_union(col("sh_a"), col("sh_b")))).as("jaccard"))
      .filter(col("jaccard") >= threshold)
      .orderBy("doc_id_a", "doc_id_b")
    materializeAndRelease(result, cands, sh)
  }

  /** Containment re-rank of candidate pairs: C(A→B) = |S(A)∩S(B)| / |S(A)|
    * — the asymmetric "is A substantially inside B" score (Broder's
    * containment). Jaccard misses subset duplication structurally: a 100-
    * shingle doc pasted into a 10 000-shingle doc has J ≈ 0.01 but
    * C(A→B) = 1.0 — exactly the boilerplate-inclusion / quote-expansion
    * case a curation pass must catch. Emits both directions and keeps a
    * pair when either direction reaches `threshold`.
    *
    * Same scale shape as [[ngramJaccard]]: shingles only for ids in a
    * candidate pair, pair join over candidate-sized sides. NOTE the recall
    * contract is the candidate generator's: minhash candidates are
    * Jaccard-biased and will surface tiny⊂huge pairs only when the size
    * ratio keeps J above the LSH floor; for full subset-style recall feed
    * candidates from rare-shingle prefix blocking instead. */
  def containmentRerank(df: DataFrame, idCol: String, textCol: String,
                        candidates: DataFrame, shingleK: Int = LshShingleK,
                        threshold: Double = 0.8): DataFrame = {
    import df.sparkSession.implicits._
    val cands = candidates.persist()
    val candIds = cands
      .select(explode(array(col("doc_id_a"), col("doc_id_b"))).as("cid")).distinct()
    val sh = df.select(col(idCol).cast("long"), col(textCol))
      .join(broadcast(candIds), col(idCol).cast("long") === col("cid"), "left_semi")
      .as[(Long, String)]
      .map { case (id, t) => (id, shingles(Option(t).getOrElse(""), shingleK)) }
      .toDF("sid", "sh")
      .persist()
    val inter = size(array_intersect(col("sh_a"), col("sh_b"))).cast("double")
    val result = cands
      .join(sh.withColumnRenamed("sid", "doc_id_a").withColumnRenamed("sh", "sh_a"), "doc_id_a")
      .join(sh.withColumnRenamed("sid", "doc_id_b").withColumnRenamed("sh", "sh_b"), "doc_id_b")
      .select(col("doc_id_a"), col("doc_id_b"),
        (inter / size(col("sh_a"))).as("c_a_in_b"),
        (inter / size(col("sh_b"))).as("c_b_in_a"))
      .filter(col("c_a_in_b") >= threshold || col("c_b_in_a") >= threshold)
      .orderBy("doc_id_a", "doc_id_b")
    materializeAndRelease(result, cands, sh)
  }

  // ---------------------------------------------------------------- SimHash

  /** 64-bit SimHash (Charikar 2002): each whitespace token of the
    * lower-cased text votes ±1 on every bit of its hash, and the signature
    * keeps the bits with a positive vote sum (ties resolve to 0). Tokens
    * hash to the first 8 md5 bytes read little-endian — exactly DuckDB's
    * `md5_number_upper(tok)` — so the WHOLE simhash (tokenize → hash → bit
    * votes → sign fold) has a native SQL expression in both engines. */
  private[graft] def simhashMd5(text: String,
                                md: java.security.MessageDigest): Long = {
    val acc = new Array[Int](64)
    text.toLowerCase(java.util.Locale.ROOT).split("\\s+").filter(_.nonEmpty)
      .foreach { tok =>
        val m = md.digest(tok.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        var h = 0L; var i = 0
        while (i < 8) { h |= (m(i) & 0xffL) << (8 * i); i += 1 }
        var b = 0
        while (b < 64) { if (((h >>> b) & 1L) == 1L) acc(b) += 1 else acc(b) -= 1; b += 1 }
      }
    var out = 0L; var b = 0
    while (b < 64) { if (acc(b) > 0) out |= (1L << b); b += 1 }
    out
  }

  /** SimHash near-dup pairs (q25) over [[simhashMd5]] signatures: band
    * the 64-bit hash into `maxHamming + 1` chunks — by pigeonhole, any pair
    * within Hamming distance ≤ maxHamming shares at least one INTACT chunk
    * — bucket on (chunk_idx, chunk_value), verify popcount within buckets.
    * Recall is complete for the requested distance at any maxHamming ≤ 63
    * (chunk width shrinks as it grows), and every emitted (id_a, id_b,
    * hamming) row is checkable against an all-pairs DuckDB truth that
    * recomputes the signatures from the raw text (q25's oracle). */
  def simhashPairsPortable(df: DataFrame, idCol: String, textCol: String,
                           maxHamming: Int = 3, maxBucket: Int = 1000): DataFrame = {
    import df.sparkSession.implicits._
    val sigs = df.select(col(idCol).cast("long"), col(textCol)).as[(Long, String)]
      .mapPartitions { it =>
        val md = java.security.MessageDigest.getInstance("MD5")
        it.map { case (id, t) => (id, simhashMd5(Option(t).getOrElse(""), md)) }
      }
    hammingPairs64(sigs, maxHamming, maxBucket)
      .withColumnRenamed("id_a", "doc_id_a").withColumnRenamed("id_b", "doc_id_b")
  }

  /** The pigeonhole-banded Hamming join behind [[simhashPairsPortable]]
    * (and the image perceptual-hash dedup): chunk each 64-bit signature into
    * `maxHamming + 1` bands, bucket on (band, chunk) — any pair within the
    * distance shares an intact band — popcount-verify inside buckets.
    * Emits (id_a, id_b, hamming), a < b, exactly once. */
  private[operators] def hammingPairs64(
      sigs: org.apache.spark.sql.Dataset[(Long, Long)],
      maxHamming: Int, maxBucket: Int): DataFrame = {
    import sigs.sparkSession.implicits._
    require(maxHamming >= 0 && maxHamming < 64, s"maxHamming $maxHamming out of [0,63]")
    val nChunks = maxHamming + 1
    val base = 64 / nChunks; val extra = 64 % nChunks // first `extra` chunks are 1 bit wider
    val starts = (0 until nChunks).scanLeft(0)((s, c) => s + base + (if (c < extra) 1 else 0))
    val bounds = starts.sliding(2).map(w => (w(0), w(1))).toArray
    sigs.flatMap { case (id, h) =>
        bounds.iterator.zipWithIndex.map { case ((lo, hi), c) =>
          val chunk = (h >>> lo) & ((1L << (hi - lo)) - 1)
          ((c, chunk), (id, h))
        }
      }
      .groupByKey(_._1)
      .flatMapGroups { (_, it) =>
        val m = it.map(_._2).toArray.sortBy(_._1).take(maxBucket)
        for {
          i <- (0 until m.length).iterator
          j <- (i + 1) until m.length
          d = java.lang.Long.bitCount(m(i)._2 ^ m(j)._2)
          if d <= maxHamming
        } yield (m(i)._1, m(j)._1, d)
      }
      .toDF("id_a", "id_b", "hamming")
      .groupBy("id_a", "id_b").agg(min("hamming").as("hamming"))
      .orderBy("id_a", "id_b")
  }

  // ---------------------------------------------------- cluster collapse

  /** Connected components over a near-dup pair list: collapses pairs into
    * clusters so "keep one representative per duplicate group" is a groupBy
    * away (the step after minhashLsh/simhashPairsPortable/nearDupCosine —
    * pairs alone over-delete when A~B and B~C but the pipeline drops both B
    * and C).
    *
    * Min-label propagation: every node starts as its own label; each round
    * every node takes the min label among itself and its neighbors; stops at
    * fixpoint (≤ graph-diameter rounds — near-dup clusters are shallow, so
    * typically 2-4). Each round is one join + one groupBy, and the label
    * frontier is localCheckpoint'ed so the plan doesn't grow with the
    * iteration count (THE classic iterative-Spark failure mode). For graphs
    * with countable-diameter chains this is the standard production shape;
    * a 100 TB pathological-diameter graph would want large-star/small-star
    * (O(log n) rounds) — same join/agg primitives, more bookkeeping. */
  def connectedComponents(pairs: DataFrame, aCol: String, bCol: String,
                          maxIter: Int = 20): DataFrame = {
    val edges = pairs.select(col(aCol).as("src"), col(bCol).as("dst"))
      .unionAll(pairs.select(col(bCol).as("src"), col(aCol).as("dst")))
      .distinct().localCheckpoint()
    var labels = edges.select(col("src").as("node")).distinct()
      .withColumn("label", col("node")).localCheckpoint()
    var converged = false
    var i = 0
    while (!converged && i < maxIter) {
      val nbrMin = edges.join(labels.withColumnRenamed("node", "src"), "src")
        .groupBy(col("dst").as("node")).agg(min("label").as("nbr_label"))
      // the changed-flag rides the SAME checkpointed frame (a label only
      // ever decreases, so "changed" ⟺ a strictly smaller neighbor min) —
      // convergence is then a lazy filter over the materialized blocks
      // instead of the former next⋈previous re-join per round
      val next = labels.join(nbrMin, Seq("node"), "left")
        .select(col("node"),
          least(col("label"), coalesce(col("nbr_label"), col("label"))).as("label"),
          (col("nbr_label").isNotNull && col("nbr_label") < col("label")).as("__chg"))
        .localCheckpoint()
      converged = next.where(col("__chg")).isEmpty
      labels = next.select("node", "label")
      i += 1
    }
    labels.select(col("node"), col("label").as("cluster_id")).orderBy("node")
  }

  /** Connected components by ALTERNATING large-star / small-star rounds —
    * the O(log²) -round algorithm for graphs whose diameter makes min-label
    * propagation (O(diameter) rounds, [[connectedComponents]]) pathological,
    * e.g. chain-shaped duplicate clusters. Each round: large-star hooks every
    * larger neighbor of a node onto its neighborhood minimum, small-star
    * hooks the smaller neighbors; edges converge to stars (node → component
    * root). Published algorithm: Kiveris et al., "Connected Components in
    * MapReduce and Beyond" (SoCC 2014). Per round: two grouped aggregations
    * and one distinct — all hash-partitioned by node, no broadcast of
    * anything graph-sized, and per-key aggregation state hard-bounded at
    * `hubCap` distinct values (a round whose apexes exceed the cap is
    * re-run through a streaming-join formulation — see the round body),
    * so the shape holds at 100 TB edge lists with mega-hub components. Same contract as [[connectedComponents]]:
    * (node, cluster_id = min id of the component). */
  def connectedComponentsStar(pairs: DataFrame, aCol: String, bCol: String,
                              maxIter: Int = 50,
                              hubCap: Int = 1 << 17): DataFrame = {
    // per-round localCheckpoints truncate lineage (the plan must not grow
    // per iteration); superseded rounds' checkpoint blocks are reclaimed by
    // Spark's ContextCleaner once the frames are unreferenced — storage is
    // bounded by in-flight rounds, not total rounds
    val nodes = pairs.select(col(aCol).as("node"))
      .unionAll(pairs.select(col(bCol).as("node"))).distinct().localCheckpoint()
    // canonical direction big → small; self-pairs dropped
    var edges = pairs
      .select(greatest(col(aCol), col(bCol)).as("u"), least(col(aCol), col(bCol)).as("v"))
      .where(col("u") =!= col("v")).distinct().localCheckpoint()
    var m = edges.count()
    var converged = m == 0L
    var i = 0
    while (!converged && i < maxIter) {
      // Each star pass is ONE grouped aggregate + explode (was: aggregate +
      // join + standalone distinct — two extra node-keyed shuffles per
      // round): the apex's neighborhood minimum and its hooked neighbors
      // ride the same set aggregate, and the set explode emits the hook
      // edges directly. collect_set dedups per apex, so per-round shuffle
      // volume stays Σ|N(u)| = 2|E|.
      //
      // HUB SAFETY (round 13): star contraction concentrates degree at the
      // component minimum, so late rounds on a mega-hub graph would buffer
      // ~|component| elements in ONE ObjectHashAggregate buffer — a
      // single-task OOM at 100 TB (round-12 advisory). The set aggregates
      // are therefore BOUNDED at hubCap distinct values per key: past the
      // cap the buffer is dropped (the apex contributes no hooks) and an
      // accumulator counts the overflow. The round runs OPTIMISTICALLY in
      // this exact one-agg shape — zero extra cost while no key overflows,
      // which a planted-hub A/B showed is the only flat-cost design (every
      // in-plan fallback branch re-executed the aggregate: +30-50 % on the
      // CC-star queries) — and when the driver reads overflow > 0 after
      // the action, the round is DISCARDED and re-run in the join-based
      // shape below, whose per-key state is a plain MIN (fixed buffer) and
      // whose hook emission streams through a join: hub-safe at any
      // degree, ~2× one round's cost, only on rounds that actually carry
      // a >hubCap hub.
      // large-star over the SYMMETRIC neighborhood: (v, min(N(u) ∪ u)) for v > u
      val sym = edges.unionAll(edges.select(col("v").as("u"), col("u").as("v")))
      val overflow = pairs.sparkSession.sparkContext
        .longAccumulator(s"ccStarHubOverflow_r$i")
      val large = sym.groupBy("u")
        .agg(least(col("u"), min(col("v"))).as("m"),
          graft.functions.Native.boundedCollectSet(
            when(col("v") > col("u"), col("v")), hubCap, Some(overflow)).as("big"))
        .select(explode(col("big")).as("u"), col("m").as("v"))
      // small-star over the directed (big → small) list: hook u and all its
      // smaller neighbors onto the minimum
      var next = large.groupBy("u")
        .agg(min(col("v")).as("m"),
          graft.functions.Native.boundedCollectSet(col("v"), hubCap,
            Some(overflow)).as("vs"))
        .select(explode(concat(col("vs"), array(col("u")))).as("u2"), col("m"))
        .where(col("u2") =!= col("m"))
        .select(col("u2").as("u"), col("m").as("v"))
        .distinct().localCheckpoint()
      var m2 = next.count()
      if (overflow.value > 0L) {
        // hub round: recompute from this round's input edges with the
        // streaming-join formulation (per-pass: fixed-buffer min aggregate
        // + join; `large` is checkpointed once so the small pass and the
        // hook join read materialized blocks, not a re-executed aggregate)
        val minL = sym.groupBy("u").agg(least(col("u"), min(col("v"))).as("m"))
        val largeJ = sym.join(minL, Seq("u")).where(col("v") > col("u"))
          .select(col("v").as("u"), col("m").as("v"))
          .localCheckpoint()
        val minS = largeJ.groupBy("u").agg(min(col("v")).as("m"))
        next = largeJ.join(minS, Seq("u")).select(col("v").as("u2"), col("m"))
          .unionAll(minS.select(col("u").as("u2"), col("m")))
          .where(col("u2") =!= col("m"))
          .select(col("u2").as("u"), col("m").as("v"))
          .distinct().localCheckpoint()
        m2 = next.count()
      }
      // set equality of two DISTINCT edge lists = equal cardinality + one
      // empty anti-join (was: two exceptAll passes); the && short-circuit
      // means rounds that still change the edge count never pay the join
      converged = m2 == m && next.join(edges, Seq("u", "v"), "left_anti").isEmpty
      edges = next
      m = m2
      i += 1
    }
    // a non-converged edge list still contains node→intermediate hooks, and
    // labeling from it would be silently wrong — fail loudly instead
    require(converged,
      s"connectedComponentsStar did not converge in $maxIter rounds (O(log² n) expected)")
    nodes.join(edges.select(col("u").as("node"), col("v").as("root")), Seq("node"), "left")
      .select(col("node"), coalesce(col("root"), col("node")).as("cluster_id"))
      .orderBy("node")
  }

  // ------------------------------------------------------------ fuzzy match

  /** Fuzzy string matching (edit distance ≤ maxDist) via MULTI-PASS
    * blocking: candidates are generated inside a prefix block AND inside a
    * suffix block, and the two passes union — the record-linkage analog of
    * LSH banding. Each pass is an equi-join on its block key, so nothing is
    * ever compared all-pairs; an edit anywhere except simultaneously in the
    * first AND last `blockChars` characters is caught (that residual miss is
    * the standard blocked-linkage trade-off). levenshtein() is codegen'd and
    * runs only on within-block candidates.
    *
    * Feed this DISTINCT strings (canonicalize first, e.g. groupBy(str)
    * .agg(min(id))): id-level pairing is quadratic in duplicates-per-string
    * while the distinct-string vocabulary is usually tiny next to the
    * table. */
  def fuzzyPairs(df: DataFrame, idCol: String, strCol: String,
                 maxDist: Int, blockChars: Int = 4): DataFrame = {
    val base = df.select(col(idCol), col(strCol))
    def pass(key: Column => Column): DataFrame = {
      val a = base.select(col(idCol).as("id_a"), col(strCol).as("s_a"))
        .withColumn("blk", key(col("s_a")))
      val b = base.select(col(idCol).as("id_b"), col(strCol).as("s_b"))
        .withColumn("blk", key(col("s_b")))
      a.join(b, "blk").where(col("id_a") < col("id_b")).drop("blk")
    }
    def suffix(c: Column): Column =
      substring(c, greatest(length(c) - (blockChars - 1), lit(1)), lit(blockChars))
    pass(c => substring(c, 1, blockChars))
      .unionAll(pass(suffix))
      .distinct() // a pair caught by both passes counts once
      // banded O(maxDist·n) native expression: exact when ≤ maxDist (all we
      // keep), early-exits hopeless pairs instead of running the full DP
      .withColumn("dist",
        graft.functions.Native.levenshteinBounded(col("s_a"), col("s_b"), lit(maxDist)))
      .where(col("dist") <= maxDist)
      .select("id_a", "id_b", "s_a", "s_b", "dist")
      .orderBy("id_a", "id_b")
  }

  /** Sorted-neighborhood blocking — the complement of [[fuzzyPairs]]'
    * prefix/suffix blocking: sort the (distinct) strings once, then only
    * compare rows within `windowSize` positions of each other. Catches the
    * mid-string-typo pairs that prefix+suffix blocking structurally misses
    * whenever the shared sort prefix survives the typo; O(n·w) comparisons
    * total. The global sequence numbers come from
    * [[Analytics.globalRowNumber]] — a range-partitioned two-pass, NOT a
    * single-partition `row_number() OVER (ORDER BY …)` that would collapse
    * the corpus onto one task; the rank self-join is an equi-join on
    * `rank+offset` (one shuffle pair per offset batch, no range scan). */
  def sortedNeighborhoodPairs(df: DataFrame, idCol: String, strCol: String,
                              windowSize: Int = 4, maxDist: Int = 2): DataFrame = {
    val canon = df.select(col(idCol).as("id"), col(strCol).as("s")).distinct()
    val ranked = Analytics.globalRowNumber(canon, Seq("s", "id"), "rk")
    val probes = ranked
      .select(col("id").as("id_a"), col("s").as("s_a"), col("rk"),
        explode(array((1 until windowSize).map(lit): _*)).as("off"))
      .select(col("id_a"), col("s_a"), (col("rk") + col("off")).as("rk"))
    probes.join(ranked.select(col("id").as("id_b"), col("s").as("s_b"), col("rk")), "rk")
      .withColumn("dist",
        graft.functions.Native.levenshteinBounded(col("s_a"), col("s_b"), lit(maxDist)))
      .where(col("dist") <= maxDist)
      .select(least(col("id_a"), col("id_b")).as("id_a"),
        greatest(col("id_a"), col("id_b")).as("id_b"), col("dist"))
      .orderBy("id_a", "id_b")
  }

  /** Blocking-quality metrics (Christen's standard pair): pair
    * completeness = found true pairs / all true pairs (recall of the
    * blocking scheme) and reduction ratio = 1 − candidates / all possible
    * pairs (how much of the n² it avoided) — HOW a blocking scheme
    * (sorted-neighborhood window, prefix length, LSH bands) gets TUNED:
    * push RR up until PC starts to fall. Pairs normalize to (lo, hi) so
    * orientation never miscounts; three counts + two double divisions. */
  def blockingQuality(candidates: DataFrame, aCol: String, bCol: String,
                      truth: DataFrame, taCol: String, tbCol: String,
                      nRecords: Long): DataFrame = {
    require(nRecords >= 2, "need at least two records")
    def norm(df: DataFrame, a: String, b: String) = df.select(
      least(col(a), col(b)).as("pa"), greatest(col(a), col(b)).as("pb"))
      .distinct()
    val c = norm(candidates, aCol, bCol).localCheckpoint()
    val t = norm(truth, taCol, tbCol).localCheckpoint()
    val nc = c.count(); val nt = t.count()
    val found = c.join(t, Seq("pa", "pb")).count()
    val all = nRecords * (nRecords - 1) / 2
    val spark = candidates.sparkSession
    import spark.implicits._
    Seq((nc, nt, found,
      if (nt == 0) null.asInstanceOf[java.lang.Double]
      else java.lang.Double.valueOf(found.toDouble / nt.toDouble),
      1.0 - nc.toDouble / all.toDouble))
      .toDF("n_candidates", "n_true_pairs", "n_found",
        "pair_completeness", "reduction_ratio")
  }

  /** Duplicated-span mass per document — the measurement half of exact-
    * substring dedup ([[substringPairs]] finds WHO shares spans; this
    * quantifies HOW MUCH of each document is corpus-duplicated, the number
    * a removal pass acts on). Frames whose hash appears in 2..maxDocs
    * documents are merged per document into maximal overlapping spans
    * (stride < window ⇒ contiguous duplicated regions chain) via the
    * sessionize idiom: running-max end over a prefix window, count() of
    * new-span flags as the running group id — one frame shuffle, one
    * window sort per doc, all integer arithmetic. */
  def duplicatedSpans(docs: DataFrame, idCol: String, textCol: String,
                      window: Int = 40, stride: Int = 10,
                      maxDocs: Int = 50): DataFrame = {
    val len = length(col(textCol))
    val idx = when(len >= window,
        sequence(lit(1), len - (window - 1), lit(stride)))
      .otherwise(array().cast("array<int>"))
    val frames = docs
      .select(col(idCol), explode(idx).as("p"), col(textCol))
      .select(col(idCol), col("p"),
        md5(substring(col(textCol), col("p"), lit(window))).as("h"))
      .distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val ok = frames.select(col(idCol), col("h")).distinct()
      .groupBy("h").agg(count(lit(1)).as("nd"))
      .filter(col("nd").between(2, maxDocs))
      .select("h")
    val hits = frames.join(ok, Seq("h")).select(col(idCol), col("p")).distinct()
    val byDoc = Window.partitionBy(idCol).orderBy("p")
    val prevMaxEnd = max(col("p") + window).over(byDoc.rowsBetween(Window.unboundedPreceding, -1))
    val newSpan = when(prevMaxEnd.isNull || col("p") > prevMaxEnd, 1L)
    val spans = hits
      .withColumn("grp", count(newSpan).over(byDoc.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col(idCol), col("grp"))
      .agg((max(col("p")) + window - min(col("p"))).cast("long").as("chars"))
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_spans"), sum(col("chars")).as("dup_chars"))
      .orderBy(idCol)
    materializeAndRelease(spans, frames)
  }

  /** Golden-record election — the end of the entity-resolution pipeline:
    * duplicate pairs → connected components → ONE canonical record per
    * cluster, elected by completeness (longest name, smallest id as the
    * deterministic tiebreak), with the cluster size as the merge audit.
    * Cluster assignments come from [[connectedComponentsStar]] (the
    * diameter-safe variant); the election is a WindowGroupLimit-shaped
    * rank over cluster-sized data — everything after CC is duplicate-
    * cluster-sized, not corpus-sized. */
  def goldenRecords(records: DataFrame, idCol: String, nameCol: String,
                    pairs: DataFrame): DataFrame = {
    val clusters = connectedComponentsStar(pairs, "id_a", "id_b")
    val members = clusters
      .join(records.select(col(idCol).as("node"), col(nameCol).as("name")), "node")
    val w = Window.partitionBy("cluster_id")
      .orderBy(length(col("name")).desc, col("node"))
    val sizes = clusters.groupBy("cluster_id").agg(count(lit(1)).as("cluster_size"))
    members.withColumn("__rk", row_number().over(w))
      .filter(col("__rk") === 1)
      .join(sizes, Seq("cluster_id"))
      .select(col("cluster_id"), col("node").as("canonical_id"),
        col("name").as("canonical_name"), col("cluster_size"))
      .orderBy("cluster_id")
  }

  /** Exact-substring duplicate pairs (the character-level complement of
    * MinHash: Lee et al., "Deduplicating Training Data Makes Language
    * Models Better" dedups any repeated ≥50-char span): slide a
    * `window`-char frame with `stride`-char steps over each document, key
    * each frame by md5 (fixed 32-char shuffle key), and pair up documents
    * sharing ≥ `minShared` frame hashes.
    *
    * Shape for scale: frame expansion is map-side; frames dedup per doc
    * BEFORE the shuffle; frames shared by more than `maxDocs` documents
    * (web boilerplate — quadratic pair blowup) are dropped like the LSH
    * hot-bucket cap, so the self-join is bounded at maxDocs² per frame and
    * no CartesianProduct can appear. The full text never shuffles — only
    * (hash, id) pairs. */
  def substringPairs(docs: DataFrame, idCol: String, textCol: String,
                     window: Int = 40, stride: Int = 10,
                     minShared: Int = 2, maxDocs: Int = 50): DataFrame = {
    val len = length(col(textCol))
    val idx = when(len >= window,
        sequence(lit(1), len - (window - 1), lit(stride)))
      .otherwise(array().cast("array<int>"))
    // persisted: referenced three times (hot-frame counts + both join
    // sides) — without the barrier Catalyst re-expands + re-dedups the
    // frames from the raw text once per reference (4 corpus scans)
    val frames = docs
      .select(col(idCol), explode(idx).as("p"), col(textCol))
      .select(col(idCol), md5(substring(col(textCol), col("p"), lit(window))).as("h"))
      .distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val ok = frames.groupBy("h").agg(count(lit(1)).as("nd"))
      .filter(col("nd").between(2, maxDocs))
      .select("h")
    val bounded = frames.join(ok, Seq("h"))
    val pairs = bounded.as("a").join(bounded.as("b"), Seq("h"))
      .filter(col(s"a.$idCol") < col(s"b.$idCol"))
      .groupBy(col(s"a.$idCol").as("doc_a"), col(s"b.$idCol").as("doc_b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
      .orderBy("doc_a", "doc_b")
    materializeAndRelease(pairs, frames)
  }

  /** Jaro-Winkler scored fuzzy pairs — the similarity-graded complement of
    * [[fuzzyPairs]]' thresholded edit distance (JW weights shared prefixes,
    * the right metric for names/titles; reference fuzzy-contact matching
    * semantics, contact_repository.py:198-210). Same prefix blocking shape;
    * the scoring runs the codegen'd native [[graft.functions.Native.jaroWinkler]]
    * whose double output is bit-compatible with DuckDB's, so the VALUES are
    * oracle-checkable, not just the pair ids. Blocking recall caveat is
    * [[fuzzyPairs]]': pairs differing inside the first `blockChars` chars
    * need [[sortedNeighborhoodPairs]]. */
  def jaroWinklerPairs(df: DataFrame, idCol: String, strCol: String,
                       threshold: Double, blockChars: Int = 4): DataFrame = {
    val canon = df.select(col(idCol).as("id"), col(strCol).as("s")).distinct()
    val a = canon.toDF("id_a", "s_a")
      .withColumn("blk", substring(col("s_a"), 1, blockChars))
    val b = canon.toDF("id_b", "s_b")
      .withColumn("blk", substring(col("s_b"), 1, blockChars))
    a.join(b, "blk").where(col("id_a") < col("id_b"))
      .withColumn("jw", graft.functions.Native.jaroWinkler(col("s_a"), col("s_b")))
      .where(col("jw") >= threshold)
      .select("id_a", "id_b", "jw")
      .orderBy("id_a", "id_b")
  }

  /** EXACT shingle-set similarity self-join via global-frequency prefix
    * filtering (the AllPairs/PPJoin family — Bayardo et al. WWW'07, Xiao et
    * al. TODS'11): every document pair whose token-`shingleK`-gram set
    * jaccard ≥ `threshold`, with exact values. The deterministic, 100%-recall
    * counterpart to the MinHash/LSH path ([[minhashCandidates]] +
    * [[ngramJaccard]]) — both produce the same truth set, by two different
    * scale strategies, over the same shingle space ([[shingles]]).
    *
    * Prefix-filter theorem: order every set by GLOBAL shingle document
    * frequency (rarest first; ties by hash). If J(A,B) ≥ t, the first
    * |S| − ⌈t·|S|⌉ + 1 elements of each side must share at least one — so
    * the self-join keys on prefix shingles only, and a shingle shared by two
    * prefixes is, by construction, globally rare. Candidates are further cut
    * by the length filter t·max(|A|,|B|) ≤ min(|A|,|B|) before verification.
    *
    * Shape for scale: df counts are one map-side-combined shuffle; the
    * frequency annotation is a shingle-keyed equi-join; prefixes carry only
    * the rare ~(1−t) tail of each set, so the candidate self-join never
    * touches boilerplate-grade inverted lists (THE failure mode of a naive
    * shingle self-join, whose cost is Σ df² over the whole shingle
    * vocabulary); verification is id-keyed equi-joins bounded by
    * candidates × set size. No CartesianProduct; text never shuffles —
    * only (id, 8-byte hash) pairs do. */
  def setSimilarityJoin(docs: DataFrame, idCol: String, textCol: String,
                        threshold: Double, shingleK: Int = 3): DataFrame = {
    import docs.sparkSession.implicits._
    val sh = docs.select(col(idCol).cast("long"), col(textCol))
      .as[(Long, String)]
      .flatMap { case (id, t) =>
        shingles(Option(t).getOrElse(""), shingleK).distinct.map(h => (id, h)) }
      .toDF("doc_id", "h")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val freq = sh.groupBy("h").agg(count(lit(1)).as("df"))
    // per-doc (df, h) sort + prefix slice as ONE grouped aggregate: the
    // former two-window form (count + row_number over doc_id) paid a full
    // sort of the annotated shingle table by (doc_id, df, h); sort_array
    // over struct(df, h) is the identical (df asc, h asc) rank per doc,
    // and slice keeps exactly the rows pos ≤ |S| − ⌈t·|S|⌉ + 1 kept before.
    // (Round 13 measured-and-rejected: eagerly checkpointing this
    // aggregate to share it across the self-join sides and the verify
    // sets was SLOWER warm — 4.7-5.2 vs 3.2 s same-JVM A/B: the
    // materialization of doc×set struct arrays costs more than the
    // reused-exchange duplicate aggregation it saves.)
    val prefix = sh.join(freq, Seq("h"))
      .groupBy("doc_id")
      .agg(sort_array(collect_list(struct(col("df"), col("h")))).as("fs"))
      .select(col("doc_id"), size(col("fs")).cast("long").as("set_size"),
        explode(slice(col("fs"), lit(1),
          greatest(
            (size(col("fs")) - ceil(size(col("fs")) * threshold) + 1).cast("int"),
            lit(0)))).as("e"))
      .select(col("doc_id"), col("e.h").as("h"), col("set_size"))
    val cands = prefix.toDF("id_a", "h", "size_a")
      .join(prefix.toDF("id_b", "h", "size_b"), Seq("h"))
      .filter(col("id_a") < col("id_b") &&
        col("size_a") * threshold <= col("size_b") &&
        col("size_b") * threshold <= col("size_a"))
      .select("id_a", "id_b", "size_a", "size_b")
      .distinct()
    // verification: one set-typed join per side + a map-side exact
    // array_intersect per candidate (hash-set intersection, order-free).
    // The former shape re-exploded every candidate against its FULL
    // shingle list (candidates × set size rows through an equi-join and a
    // 4-key hash aggregate — 16M intermediate rows at sf0.1, 5.0 s of the
    // query); this one shuffles each side's set once per candidate, the
    // same candidates×set-size byte bound, and the aggregate disappears.
    val sets = sh.groupBy("doc_id").agg(collect_list("h").as("hs"))
    val pairs = cands
      .join(sets.select(col("doc_id").as("id_a"), col("hs").as("hs_a")), Seq("id_a"))
      .join(sets.select(col("doc_id").as("id_b"), col("hs").as("hs_b")), Seq("id_b"))
      .select(col("id_a"), col("id_b"), col("size_a"), col("size_b"),
        size(array_intersect(col("hs_a"), col("hs_b"))).as("inter"))
      .filter(col("inter") >= 1) // the old inner-join shape implied ≥1 shared shingle
      // inter/(|A|+|B|−inter): same integers as the oracle's
      // intersect/union, so the double quotients are bit-identical
      .select(col("id_a").as("doc_id_a"), col("id_b").as("doc_id_b"),
        (col("inter").cast("double") /
          (col("size_a") + col("size_b") - col("inter"))).as("jaccard"))
      .filter(col("jaccard") >= threshold)
      .orderBy("doc_id_a", "doc_id_b")
    materializeAndRelease(pairs, sh)
  }

  /** All-pairs document cosine over bigram COUNT vectors via an
    * inverted-index join — the sparse-vector similarity join (the DIMSUM /
    * all-pairs-similarity family) that complements [[setSimilarityJoin]]'s
    * set semantics with magnitude-aware multiplicities.
    *
    * Scale contract: a gram with document frequency df contributes df²
    * candidate pairs, so the join is bounded by stop-gram pruning — grams
    * with df > maxDf are dropped from the vector space entirely (norms AND
    * dots — the semantics are "cosine over the pruned vocabulary", mirrored
    * exactly in the oracle). That cap is the difference between a
    * similarity JOIN (Σ min(df,maxDf)² pairs) and corpus². Dot products
    * are exact integer sums; each cosine is one double division of fixed
    * shape, so values — not just ranks — are oracle-checked. */
  def sparseDocCosine(docs: DataFrame, idCol: String, textCol: String,
                      maxDf: Int = 100, threshold: Double = 0.5): DataFrame = {
    // bigram expansion via Curation.ngramRows — token array bound to a
    // column before the lambda (regex-once; 7.5 s → 1.0 s at sf0.1)
    val counts = Curation.ngramRows(docs, Seq(idCol), textCol, 2, "g")
      .withColumnRenamed(idCol, "doc")
      .groupBy("doc", "g").agg(count(lit(1)).as("cnt"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // df per gram over the grouped rows (one row per containing doc);
    // broadcast is gram-vocab-sized — on an open web vocabulary drop the
    // hint and the equi-join shuffles on the natural gram key instead
    val kept = counts.groupBy("g").agg(count(lit(1)).as("df"))
      .filter(col("df") <= maxDf).select("g")
    val tk = counts.join(broadcast(kept), Seq("g"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val norms = tk.groupBy("doc")
      .agg(sqrt(sum(col("cnt") * col("cnt")).cast("double")).as("nrm"))
    val dots = tk.select(col("g"), col("doc").as("id_a"), col("cnt").as("ca"))
      .join(tk.select(col("g"), col("doc").as("id_b"), col("cnt").as("cb")), Seq("g"))
      .filter(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b").agg(sum(col("ca") * col("cb")).as("dot"))
    val out = dots
      .join(norms.select(col("doc").as("id_a"), col("nrm").as("na")), Seq("id_a"))
      .join(norms.select(col("doc").as("id_b"), col("nrm").as("nb")), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        (col("dot").cast("double") / (col("na") * col("nb"))).as("cosine"))
      .filter(col("cosine") >= threshold)
      .orderBy("id_a", "id_b")
      .localCheckpoint(true)
    tk.unpersist(false); counts.unpersist(false)
    out
  }

  /** Canonical-record selection: given duplicate clusters (from
    * [[connectedComponents]] / [[connectedComponentsStar]]) and a quality
    * score per member, pick each cluster's keeper — highest score, ties to
    * the lowest id so the choice is total and engine-independent. The step
    * that turns "these records are the same thing" into "THIS row
    * represents them" (dedup'd corpus, golden contact, canonical product).
    *
    * ONE hash aggregate: the argmax rides `max(struct(score, -id))`
    * (lexicographic struct ordering — max score first, then max(-id) =
    * min id), so there is no per-cluster window and a monster cluster
    * costs what any other group-by key costs. */
  def canonicalPerCluster(clusters: DataFrame, nodeCol: String, clusterCol: String,
                          quality: DataFrame, idCol: String, scoreCol: String): DataFrame = {
    clusters.select(col(nodeCol).as("node"), col(clusterCol).as("cluster_id"))
      .join(quality.select(col(idCol).as("node"), col(scoreCol).as("__s")), Seq("node"))
      .groupBy("cluster_id")
      .agg(count(lit(1)).as("cluster_size"),
        max(struct(col("__s").as("s"), (-col("node")).as("negid"))).as("__m"))
      .select(col("cluster_id"), col("cluster_size"),
        (-col("__m.negid")).as("keeper_id"), col("__m.s").as("keeper_score"))
      .orderBy("cluster_id")
  }

  /** Fellegi–Sunter record-linkage scoring (the 1969 probabilistic-linkage
    * standard): for each candidate pair, each compared field contributes
    * ln(m/u) on agreement and ln((1−m)/(1−u)) on disagreement — m the
    * agreement probability among true matches, u among random pairs (here
    * caller-supplied, in production estimated by EM). The summed log-odds
    * is the match score a threshold/clerical-review band sits on. The
    * probabilistic upgrade of [[fuzzyPairs]]' single-field distance.
    *
    * Candidates-only (blocking upstream bounds the quadratic); two id-keyed
    * joins fetch the field tuples. Agreement is null-safe equality. Each
    * field's two weights are CONSTANTS quantized to DECIMAL(18,9) once, so
    * the per-pair score is an exact decimal sum in fixed field order — no
    * data-ordered float accumulation. */
  def linkageScore(pairs: DataFrame, aCol: String, bCol: String,
                   records: DataFrame, idCol: String,
                   fields: Seq[(String, Double, Double)]): DataFrame = {
    require(fields.nonEmpty, "need at least one compared field")
    fields.foreach { case (f, m, u) =>
      require(m > 0 && m < 1 && u > 0 && u < 1 && m > u, s"need 0 < u < m < 1 for $f") }
    def side(suffix: String, on: String) = records.select(
      col(idCol).as(on) +: fields.map { case (f, _, _) => col(f).as(s"$f$suffix") }: _*)
    val joined = pairs.select(col(aCol).as("id_a"), col(bCol).as("id_b"))
      .join(side("_a", "id_a"), Seq("id_a"))
      .join(side("_b", "id_b"), Seq("id_b"))
    def w(x: Double) = lit(x).cast("decimal(18,9)")
    val agreeFlags = fields.map { case (f, _, _) =>
      col(s"${f}_a") <=> col(s"${f}_b") }
    val score = fields.zip(agreeFlags).map { case ((_, m, u), agree) =>
      when(agree, w(math.log(m / u))).otherwise(w(math.log((1 - m) / (1 - u))))
    }.reduce(_ + _) // fixed field order — exact decimal sum
    val nAgree = agreeFlags.map(a => when(a, 1L).otherwise(0L)).reduce(_ + _)
    joined.select(col("id_a"), col("id_b"), nAgree.as("n_agree"),
        score.cast("double").as("score"))
      .orderBy("id_a", "id_b")
  }

  /** One EM re-estimation round for the Fellegi–Sunter parameters —
    * where [[linkageScore]]'s (m, u) come FROM when no labeled pairs
    * exist (Winkler's standard unsupervised fit): E-step scores each
    * blocked pair's match posterior g from the current (m, u, prior);
    * M-step re-estimates m (P(agree|match)), u (P(agree|non-match)) and
    * the match prevalence from the g-weighted agreement rates. Run to
    * fixity by feeding the output back in; each round is ONE pass.
    *
    * Exactness: per-pair likelihoods are fixed multiply chains over
    * double literals (the oracle forces its bare decimals to DOUBLE the
    * same way q181 does); g quantizes DECIMAL(18,9) before the
    * order-independent sums; every output is one double division of
    * exact decimal sums. Scale: candidates-only (blocking bounds the
    * pair count), two id-keyed joins, one aggregate row; the per-field
    * melt is driver-side over that row. */
  def linkageEmRound(pairs: DataFrame, aCol: String, bCol: String,
                     records: DataFrame, idCol: String,
                     fields: Seq[(String, Double, Double)],
                     prior: Double): DataFrame = {
    require(fields.nonEmpty, "need at least one compared field")
    require(prior > 0 && prior < 1, "prior in (0,1)")
    def side(suffix: String, on: String) = records.select(
      col(idCol).as(on) +: fields.map { case (f, _, _) => col(f).as(s"$f$suffix") }: _*)
    val joined = pairs.select(col(aCol).as("id_a"), col(bCol).as("id_b"))
      .join(side("_a", "id_a"), Seq("id_a"))
      .join(side("_b", "id_b"), Seq("id_b"))
    val agrees = fields.map { case (f, _, _) => col(s"${f}_a") <=> col(s"${f}_b") }
    val mProd = fields.zip(agrees).map { case ((_, m, _), a) =>
      when(a, lit(m)).otherwise(lit(1d) - lit(m)) }.reduce(_ * _)
    val uProd = fields.zip(agrees).map { case ((_, _, u), a) =>
      when(a, lit(u)).otherwise(lit(1d) - lit(u)) }.reduce(_ * _)
    val g = (lit(prior) * mProd /
      (lit(prior) * mProd + (lit(1d) - lit(prior)) * uProd)).cast("decimal(18,9)")
    val scored = joined.select(g.as("g") +:
      agrees.zipWithIndex.map { case (a, i) => a.cast("long").as(s"ag_$i") }: _*)
    val aggs = Seq(count(lit(1)).as("n"), sum("g").as("sg")) ++
      fields.indices.flatMap(i => Seq(
        sum(when(col(s"ag_$i") === 1, col("g"))).as(s"sga_$i"),
        sum(col(s"ag_$i")).as(s"na_$i")))
    // one aggregate row; the per-field melt + divisions happen driver-side
    // over it (BigDecimal.doubleValue ≡ CAST(decimal AS DOUBLE))
    val row = scored.agg(aggs.head, aggs.tail: _*).head()
    val n = row.getAs[Long]("n")
    val sg = row.getAs[java.math.BigDecimal]("sg")
    val spark = pairs.sparkSession
    import spark.implicits._
    fields.zipWithIndex.map { case ((f, _, _), i) =>
      // a field that never agrees sums to NULL → zero posterior mass
      val sga = Option(row.getAs[java.math.BigDecimal](s"sga_$i"))
        .getOrElse(java.math.BigDecimal.ZERO)
      val na = row.getAs[Long](s"na_$i")
      (f, n, sg.doubleValue / n.toDouble, sga.doubleValue / sg.doubleValue,
        new java.math.BigDecimal(na).subtract(sga).doubleValue /
          new java.math.BigDecimal(n).subtract(sg).doubleValue)
    }.toDF("field", "n_pairs", "p_est", "m_est", "u_est").orderBy("field")
  }

  /** Phonetic blocking by Soundex ([[Cols.soundexCode]]): names that SOUND
    * alike land in one block regardless of spelling — the recall-side
    * complement of [[sortedNeighborhoodPairs]]'s lexicographic blocking
    * ("Smith"/"Smyth"/"Schmidt" share a window only if they SORT together;
    * they always SOUND together). Standard first-stage blocking in record
    * linkage (Fellegi–Sunter pipelines key m/u estimation on exactly such
    * blocks). Returns block profiles (size, distinct spellings, sample);
    * blocks with one record can't pair and are dropped.
    *
    * One hash aggregate on the code — the same cost shape as exact dedup;
    * downstream pair generation inside blocks is bounded by the block-size
    * listing this emits (audit before exploding). */
  def soundexBlocks(df: DataFrame, idCol: String, nameCol: String,
                    minBlock: Int = 2): DataFrame =
    df.select(col(idCol), col(nameCol).as("name"))
      .filter(length(trim(col("name"))) > 0)
      .withColumn("code", Cols.soundexCode(col("name")))
      .groupBy("code")
      .agg(count(lit(1)).as("n_records"),
        countDistinct(col("name")).as("n_spellings"),
        min("name").as("sample_name"))
      .filter(col("n_records") >= minBlock)
      .orderBy("code")

  /** Reciprocal-best-match one-to-one linkage: from a scored candidate
    * pair table, keep (a, b) iff b is a's highest-scoring candidate AND a
    * is b's — the mutual-argmax matching that turns [[fuzzyPairs]] /
    * [[linkageScore]] candidates into an assignment without the
    * quadratic/serial Hungarian pass. Greedy-stable: every kept pair is a
    * local optimum for both sides (the standard record-linkage /
    * bipartite "reciprocal best hit" rule, cf. ortholog detection in
    * comparative genomics).
    *
    * Input is an UNDIRECTED canonical pair list (id_a < id_b, one row per
    * pair — the [[fuzzyPairs]] contract); both orientations are restored
    * map-side so each node sees its full candidate set. One row_number
    * window on the symmetrized table + one pair-grain self-join of the
    * per-node winners — both shuffle only candidate pairs, never the full
    * tables. Rank ties break by the partner id so the argmax is total and
    * engine-stable (feed quantized scores: a sub-ulp cross-engine score
    * difference would otherwise pick different partners). Higher score =
    * better; pass a negated distance for edit-distance candidates. */
  def reciprocalBestMatch(pairs: DataFrame, aCol: String, bCol: String,
                          scoreCol: Column): DataFrame = {
    val p = pairs.select(col(aCol).as("a"), col(bCol).as("b"),
      scoreCol.cast("decimal(18,9)").as("score"))
    val sym = p.unionAll(p.select(col("b").as("a"), col("a").as("b"), col("score")))
    val w = Window.partitionBy("a").orderBy(col("score").desc, col("b"))
    val best = sym.withColumn("r", row_number().over(w))
      .filter(col("r") === 1).select(col("a"), col("b"), col("score"))
    best.alias("x")
      .join(best.alias("y"),
        col("x.b") === col("y.a") && col("y.b") === col("x.a") &&
          col("x.a") < col("y.a"))
      .select(col("x.a").as(aCol), col("x.b").as(bCol),
        col("x.score").cast("double").as("score"))
      .orderBy(aCol)
  }

  /** MinHash-LSH calibration curve — the PLANNER for [[minhashLsh]]'s
    * banding knobs: with b bands of r rows, a pair at Jaccard s becomes a
    * candidate with P = 1 − (1 − s^r)^b; this emits that S-curve on a
    * 5%-step similarity grid plus the candidate flag at the operating
    * threshold, so "will 0.7-similar docs survive 32×4 banding" is a
    * table lookup instead of a rerun. Data-free (the grid is a literal
    * explode — projection, no scan).
    *
    * b and r are required powers of two so BOTH engines evaluate the
    * powers as the same explicit repeated-squaring product chain — no
    * libm pow anywhere, the curve is bit-exact before its 9 dp
    * quantization. */
  def lshCalibration(spark: org.apache.spark.sql.SparkSession,
                     bands: Int = 32, rowsPerBand: Int = 4,
                     threshold: Double = 0.5): DataFrame = {
    def pow2(k: Int): Boolean = k >= 1 && (k & (k - 1)) == 0
    require(pow2(bands) && pow2(rowsPerBand),
      "powers of two keep the repeated-squaring chain identical in both engines")
    def square(c: Column, times: Int): Column =
      (1 to times).foldLeft(c)((acc, _) => acc * acc)
    val grid = spark.range(1, 20).toDF("k")
    val sCol = col("k").cast("double") / lit(20d)
    val sr = square(sCol, Integer.numberOfTrailingZeros(rowsPerBand))
    val p = lit(1d) - square(lit(1d) - sr, Integer.numberOfTrailingZeros(bands))
    grid.select(sCol.as("s"),
        p.cast("decimal(18,9)").cast("double").as("p_candidate"))
      .withColumn("candidate_at_threshold",
        (col("p_candidate") >= lit(threshold)).cast("int"))
      .orderBy("s")
  }
}

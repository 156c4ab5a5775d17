package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.Native

/** Similarity search over an embedding column (`Array[Float]`).
  *
  * Scale design (100 TB corpus, 1000 executors):
  *  - Brute-force top-k is the BASELINE: the query set is broadcast (it is
  *    small by definition), each partition keeps a bounded per-query heap,
  *    and only partitions × queries × k candidate rows are shuffled for the
  *    final merge — the corpus itself never shuffles.
  *  - The SCALE PATH is LSH (random hyperplane signatures): corpus vectors
  *    are expanded to (band, bandHash) keys; query bands are broadcast and
  *    hash-joined, so candidate generation touches only signature-colliding
  *    rows. Exact cosine re-ranks the candidates. No all-pairs stage exists
  *    in any plan here.
  *  - Near-dup by cosine uses the same banded signatures, groups by band
  *    key (the one shuffle) and compares only within buckets.
  */
object Similarity {

  // ---------------------------------------------------------------- math

  private[graft] def dot(a: Array[Float], b: Array[Float]): Double = {
    var s = 0.0; var i = 0
    while (i < a.length) { s += a(i).toDouble * b(i).toDouble; i += 1 }
    s
  }

  private[graft] def norm(a: Array[Float]): Double = math.sqrt(dot(a, a))

  private[graft] def cosine(a: Array[Float], b: Array[Float]): Double = {
    val na = norm(a); val nb = norm(b)
    if (na == 0.0 || nb == 0.0) 0.0 else dot(a, b) / (na * nb)
  }

  /** Seeded deterministic hyperplanes: `planes(p)(d)` via a hash-based PRNG —
    * identical across JVMs/runs (scala.util.Random with a fixed seed is also
    * stable, used here for simplicity). */
  private[graft] def hyperplanes(nPlanes: Int, dim: Int, seed: Long): Array[Array[Float]] = {
    val rnd = new scala.util.Random(seed)
    Array.fill(nPlanes)(Array.fill(dim)((rnd.nextDouble() * 2 - 1).toFloat))
  }

  /** Sign-bit signature of `v` against `planes`, packed band-wise: returns
    * one Int per band of `bitsPerBand` planes. */
  private[graft] def bandSignature(v: Array[Float], planes: Array[Array[Float]],
                                       bitsPerBand: Int): Array[Int] = {
    val nBands = planes.length / bitsPerBand
    val out = new Array[Int](nBands)
    var b = 0
    while (b < nBands) {
      var sig = 0; var i = 0
      while (i < bitsPerBand) {
        if (dot(v, planes(b * bitsPerBand + i)) >= 0) sig |= (1 << i)
        i += 1
      }
      out(b) = sig; b += 1
    }
    out
  }

  private def vectors(df: DataFrame, idCol: String, vecCol: String): Dataset[(Long, Array[Float])] = {
    import df.sparkSession.implicits._
    // null/empty vectors are dropped here, once, so no typed lambda below
    // ever NPEs — at corpus scale there is always a malformed row
    df.select(col(idCol).cast("long"), col(vecCol)).as[(Long, Array[Float])]
      .filter(r => r._2 != null && r._2.length > 0)
  }

  // ---------------------------------------------------------- brute force

  /** Exact top-k cosine neighbors for each query id. Queries are collected and
    * broadcast (dim-sized by contract); the corpus is scanned once with a
    * bounded per-partition heap per query, then only the per-partition
    * winners shuffle to one reducer group per query. */
  def bruteForceTopK(embeddings: DataFrame, idCol: String, vecCol: String,
                     queryIds: Seq[Long], k: Int): DataFrame = {
    val corpus = vectors(embeddings, idCol, vecCol)
    val queries = corpus.filter(r => queryIds.contains(r._1)).collect() // small by contract
    finalTopK(heapScan(corpus, queries, k), k)
  }

  /** The shared brute-force core: one corpus scan with a bounded
    * per-partition heap per broadcast query; only partitions × queries × k
    * candidate rows leave the scan. */
  private def heapScan(corpus: Dataset[(Long, Array[Float])],
                       queries: Array[(Long, Array[Float])], k: Int): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(queries)
    corpus.mapPartitions { it =>
      val qs = bc.value
      // per-query bounded heap; head = the current WORST kept candidate
      // (min cosine, then max id — ranking prefers smaller ids on ties)
      val heaps = qs.map(q => (q._1, collection.mutable.PriorityQueue.empty[(Double, Long)](
        Ordering.by[(Double, Long), (Double, Long)](x => (-x._1, x._2)))))
      it.foreach { case (id, v) =>
        var qi = 0
        while (qi < qs.length) {
          val (qid, qv) = qs(qi)
          if (qid != id) {
            val c = cosine(qv, v)
            val h = heaps(qi)._2
            if (h.size < k) h.enqueue((c, id))
            else if (c > h.head._1 || (c == h.head._1 && id < h.head._2)) { h.dequeue(); h.enqueue((c, id)) }
          }
          qi += 1
        }
      }
      heaps.iterator.flatMap { case (qid, h) => h.iterator.map { case (c, id) => (qid, id, c) } }
    }.toDF("query_id", "neighbor_id", "cosine")
  }

  /** Hard-negative mining for contrastive training: each anchor's top-k
    * nearest neighbors restricted to rows of a DIFFERENT label — the
    * near-the-margin negatives that matter most for metric learning.
    * One brute-force pass per distinct anchor label (few by contract), each
    * excluding the anchor's own class, so every returned neighbor is a
    * guaranteed negative at full recall — the corpus never shuffles, same
    * contract as [[bruteForceTopK]]. */
  def hardNegatives(embeddings: DataFrame, idCol: String, vecCol: String,
                    labelCol: String, queryIds: Seq[Long], k: Int): DataFrame = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    val labeled = embeddings
      .filter(col(labelCol).isNotNull) // an unlabeled row is neither anchor nor negative
      .select(col(idCol).cast("long"), col(labelCol).cast("int"), col(vecCol))
      .as[(Long, Int, Array[Float])]
      .filter(r => r._3 != null && r._3.length > 0)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val anchors = labeled.filter(r => queryIds.contains(r._1)).collect()
    if (anchors.isEmpty) { // no anchor survived the null/label guards
      labeled.unpersist(false)
      return spark.emptyDataset[(Long, Long, Double)]
        .toDF("query_id", "neighbor_id", "cosine")
        .withColumn("rank", lit(0).cast("int"))
    }
    val cands = anchors.groupBy(_._2).toSeq.sortBy(_._1).map { case (lbl, qs) =>
      heapScan(labeled.filter(_._2 != lbl).map(t => (t._1, t._3)),
        qs.map(t => (t._1, t._3)), k)
    }.reduce(_ unionAll _)
    val out = finalTopK(cands, k).localCheckpoint(true)
    labeled.unpersist(false)
    out
  }

  /** Merge partial per-partition candidates into the global per-query top-k.
    * The input is already tiny (partitions × queries × k). */
  private def finalTopK(cands: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("query_id").orderBy(col("cosine").desc, col("neighbor_id"))
    cands.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .orderBy("query_id", "rank")
  }

  // ------------------------------------------------------------------ LSH

  /** ANN via random-hyperplane LSH: banded signatures generate candidates
    * (query bands broadcast-joined against corpus bands), exact cosine
    * re-ranks. `nPlanes = bands × bitsPerBand` planes are shared corpus/query.
    * Recall is tunable via bands/bits; candidates-only compare is the point.
    *
    * `bitsPerBand = 0` is the FULL-PROBE degenerate configuration: every
    * vector gets the same (constant) signature, so the candidate set is the
    * whole corpus and the result is the exact top-k — through the identical
    * band-join plumbing. That is the oracle-checkable mode (IVF's analog is
    * `nProbe = nCells`); production recall/speed trade-offs use real bands. */
  def annLshTopK(embeddings: DataFrame, idCol: String, vecCol: String,
                 queryIds: Seq[Long], k: Int,
                 bands: Int = 8, bitsPerBand: Int = 8, seed: Long = 42L): DataFrame = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    val corpus = vectors(embeddings, idCol, vecCol)
    val dim = corpus.head()._2.length
    val planes = spark.sparkContext.broadcast(hyperplanes(bands * bitsPerBand, dim, seed))
    val (nb, bpb) = (bands, bitsPerBand) // primitives only — closures must not capture locals like `spark`

    // (band, sig, id) only — vectors are NOT duplicated ×bands; the matched
    // candidate set joins the corpus once to fetch its vector
    val corpusBands = corpus.flatMap { case (id, v) =>
      val sigs = if (bpb == 0) new Array[Int](nb) else bandSignature(v, planes.value, bpb)
      sigs.iterator.zipWithIndex.map { case (sig, b) => (b, sig, id) }
    }.toDF("band", "sig", "vec_id")

    val queries = corpus.filter(r => queryIds.contains(r._1)).collect()
    val queryBands = spark.createDataset(queries.toIndexedSeq.flatMap { case (qid, qv) =>
      val sigs = if (bpb == 0) new Array[Int](nb) else bandSignature(qv, planes.value, bpb)
      sigs.zipWithIndex.map { case (sig, b) => (b, sig, qid) }
    }).toDF("band", "sig", "query_id")

    val queryVecs = spark.createDataset(queries.toIndexedSeq).toDF("query_id", "qvec")

    // broadcast-hash-join on the band key: corpus side never shuffles; the
    // re-rank cosine is the codegen'd native expression — fully columnar
    val cands = corpusBands.join(broadcast(queryBands), Seq("band", "sig"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"))
      .dropDuplicates("query_id", "vec_id")
      .join(embeddings.select(col(idCol).cast("long").as("vec_id"), col(vecCol).as("vec")), "vec_id")
      .join(broadcast(queryVecs), "query_id")
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        Native.cosineF32(col("vec"), col("qvec")).as("cosine"))

    finalTopK(cands, k)
  }

  // ------------------------------------------------------- vector columns

  /** Cosine between consecutive ids — a value-level (not rank-level) check
    * surface for the codegen'd cosine expression, and the simplest shape of
    * "pairwise similarity along an ordering". Self-join on id+1: an
    * equi-join, shuffles once on id. */
  def consecutiveCosines(embeddings: DataFrame, idCol: String, vecCol: String): DataFrame = {
    val a = embeddings.select(col(idCol).cast("long").as("vec_id"), col(vecCol).as("v_a"))
    val b = embeddings.select((col(idCol).cast("long") - 1).as("vec_id"), col(vecCol).as("v_b"))
    a.join(b, "vec_id")
      .select(col("vec_id"),
        Native.cosineF32(col("v_a"), col("v_b")).cast("decimal(18,4)").as("cos"))
      .orderBy("vec_id")
  }

  /** Per-label centroid as a flat (label, dim, c) table: posexplode the
    * vector, average per (label, dimension). One shuffle on the compound
    * key; partial aggregation means the shuffle carries (label, dim, sum,
    * count) partials — rows × dim never crosses the wire raw. The flat
    * output is deliberately oracle-friendly AND the join-ready shape for
    * assigning rows to nearest centroid downstream. */
  def labelCentroids(embeddings: DataFrame, labelCol: String, vecCol: String): DataFrame =
    embeddings.select(col(labelCol).as("label"), posexplode(col(vecCol)).as(Seq("pos", "x")))
      .groupBy(col("label"), (col("pos") + 1).cast("long").as("dim"))
      .agg(avg(col("x").cast("double")).cast("decimal(18,4)").as("c"))
      .orderBy("label", "dim")

  /** Per-label mean silhouette against label centroids (the "medoid-free"
    * simplified silhouette): a = cosine distance to the OWN label's
    * centroid, b = min cosine distance to any other label's centroid,
    * s = (b−a)/max(a,b) — the clustering-quality readout that says whether
    * a labeling (or [[kmeansAssign]]'s output) actually separates in
    * embedding space, per label, before anyone trains on it. Mean s near 0
    * (or negative) flags the overlapping / mislabeled classes that
    * [[knnLabelNoise]] then pinpoints row by row.
    *
    * Scale: centroids ride [[labelCentroids]]'s (label, dim) hash
    * aggregate (shuffle carries partials, never raw rows), collapse to k
    * ordered arrays, and broadcast; each row then scores its k cosines in
    * ONE map-side pass (codegen'd HOFs, dims folded in index order — the
    * deterministic double chain the oracle mirrors with list_sum). Each s
    * quantizes DECIMAL(18,9) before the order-independent per-label sum. */
  def labelSilhouette(embeddings: DataFrame, idCol: String, vecCol: String,
                      labelCol: String): DataFrame = {
    val cent = labelCentroids(embeddings, labelCol, vecCol)
      .groupBy(col("label").as("c_lbl"))
      .agg(transform(array_sort(collect_list(struct(col("dim"), col("c")))),
        s => s.getField("c").cast("double")).as("cv"))
    val dotVC = aggregate(zip_with(col("v"), col("cv"),
      (x, y) => x.cast("double") * y), lit(0.0), (a, x) => a + x)
    val nv = sqrt(aggregate(transform(col("v"),
      x => x.cast("double") * x.cast("double")), lit(0.0), (a, x) => a + x))
    val nc = sqrt(aggregate(transform(col("cv"), x => x * x),
      lit(0.0), (a, x) => a + x))
    val d = lit(1.0) - dotVC / (nv * nc)
    val ab = embeddings
      .select(col(idCol).cast("long").as("vec_id"),
        col(labelCol).cast("long").as("label"), col(vecCol).as("v"))
      .crossJoin(broadcast(cent))
      .select(col("vec_id"), col("label"), col("c_lbl"), d.as("d"))
      .groupBy("vec_id", "label")
      .agg(max(when(col("c_lbl") === col("label"), col("d"))).as("a"),
        min(when(col("c_lbl") =!= col("label"), col("d"))).as("b"))
    val s = when(greatest(col("a"), col("b")) === 0.0, lit(0.0))
      .otherwise((col("b") - col("a")) / greatest(col("a"), col("b")))
    ab.select(col("label"), s.cast("decimal(18,9)").as("sq"))
      .groupBy("label")
      .agg(count(lit(1)).as("n_vectors"),
        (sum("sq").cast("double") / count(lit(1)).cast("double"))
          .as("mean_silhouette"))
      .orderBy("label")
  }

  /** Greedy k-center (farthest-point) coreset selection: start from the
    * min-id vector, repeatedly pick the vector FARTHEST from the chosen
    * set (squared L2; ties to the smaller id) — the classic 2-approximation
    * to the k-center cover, and the deterministic "maximally diverse
    * subset" selector for eval panels, few-shot exemplars, and annotation
    * batches (the opposite end of the spectrum from near-dup REMOVAL:
    * here we keep the spread).
    *
    * Per round: one map-side min-distance update against the ONE new
    * broadcast center plus one 1-row argmax action — the corpus never
    * shuffles, mirroring [[kmeansAssign]]'s contract; k localCheckpoints
    * pin the running state so round i never recomputes rounds 1..i−1.
    * Distances fold dims in index order (the oracle's list_sum twin), so
    * every pick is engine-identical; output dist quantizes DECIMAL(18,9). */
  def kCenterSelect(embeddings: DataFrame, idCol: String, vecCol: String,
                    k: Int): DataFrame = {
    require(k >= 1 && k <= 64, "k in [1,64]")
    val spark = embeddings.sparkSession
    import spark.implicits._
    val corpus = vectors(embeddings, idCol, vecCol)
    def l2(a: Array[Float], c: Array[Float]): Double = {
      var s = 0.0; var i = 0
      val n = math.min(a.length, c.length)
      while (i < n) {
        val d = a(i).toDouble - c(i).toDouble
        s += d * d; i += 1
      }
      s
    }
    val first = corpus.reduce((x, y) => if (x._1 <= y._1) x else y)
    var picks = List((1, first._1, Option.empty[Double]))
    var center = first._2
    var picked = Set(first._1)
    // running (id, vec, minDistToChosen)
    var state = corpus.map { case (id, v) => (id, v, Double.MaxValue) }
    for (i <- 2 to k) {
      val c = center
      state = state.map { case (id, v, md) => (id, v, math.min(md, l2(v, c))) }
        .localCheckpoint()
      val p = picked
      val next = state.filter(t => !p.contains(t._1))
        .reduce((x, y) =>
          if (x._3 > y._3 || (x._3 == y._3 && x._1 < y._1)) x else y)
      picks ::= ((i, next._1, Some(next._3)))
      center = next._2
      picked += next._1
    }
    picks.reverse.map { case (o, id, d) => (o, id, d) }
      .toDF("pick_order", "vec_id", "__d")
      .select(col("pick_order"), col("vec_id"),
        col("__d").cast("decimal(18,9)").cast("double").as("dist_sq"))
      .orderBy("pick_order")
  }

  // ------------------------------------------- higher-order vector algebra

  /** Vector algebra as codegen'd higher-order functions — the pure-SQL-
    * surface alternative to the native cosine expression (use these when a
    * custom Expression isn't warranted; both stay inside WholeStageCodegen).
    * All return `array<float>` / double columns and null-propagate. */
  object VectorHof {
    /** Σ aᵢ·bᵢ via zip_with + aggregate (double accumulator). */
    def dot(a: Column, b: Column): Column =
      aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
        lit(0.0), (acc, x) => acc + x)

    def l2Norm(a: Column): Column = sqrt(dot(a, a))

    /** v / ‖v‖ (unchanged zero vector rather than NaNs). The norm rides a
      * zip_with ARGUMENT (array_repeat) rather than a captured reference:
      * HOF arguments evaluate once, while an expression captured inside the
      * lambda body re-evaluates per element — an O(d) norm captured in a
      * transform is O(d²) per row (the ngramRows lesson, vector form). */
    def normalize(a: Column): Column = {
      val n = l2Norm(a)
      when(n === 0.0, a).otherwise(
        zip_with(a, array_repeat(n, size(a)),
          (x, nn) => (x.cast("double") / nn).cast("float")))
    }

    /** a + s·b — the AXPY building block of centroid/gradient updates. */
    def axpy(s: Column, b: Column, a: Column): Column =
      zip_with(a, b, (x, y) => (x.cast("double") + s * y.cast("double")).cast("float"))
  }

  // -------------------------------------------------------------- k-means

  /** Deterministic distributed k-means (Lloyd, fixed iterations).
    *
    * The usual Spark k-means is run-to-run nondeterministic twice over:
    * random init, and double-sum centroid updates whose value depends on
    * partial-aggregation order. Here BOTH are pinned: init is the vectors
    * of the k smallest ids, and each centroid coordinate is recomputed as
    * an EXACT decimal mean (each float rounds to decimal(38,18) once,
    * deterministically; decimal addition is exact and order-independent) —
    * so the same data gives the same model at ANY partitioning.
    *
    * Per iteration: one map-side assignment against broadcast centroids
    * (corpus never shuffles), one posexplode + (cluster, dim) hash agg
    * whose shuffle carries decimal partials, one k×dim driver collect.
    * Returns (vec_id, cluster) assignments. */
  def kmeansAssign(embeddings: DataFrame, idCol: String, vecCol: String,
                   k: Int, iters: Int = 5): DataFrame = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    val corpus = vectors(embeddings, idCol, vecCol).persist()

    var centroids: Array[Array[Float]] =
      corpus.filter(_._1 < k).collect().sortBy(_._1).map(_._2)
    require(centroids.length == k, s"need ids 0..${k - 1} as init seeds")

    def l2(a: Array[Float], c: Array[Float]): Double = {
      var s = 0.0; var i = 0
      val n = math.min(a.length, c.length)
      while (i < n) { val d = a(i).toDouble - c(i); s += d * d; i += 1 }
      s
    }
    def assignTo(cb: Array[Array[Float]])(v: Array[Float]): Int = {
      var best = 0; var bestD = Double.MaxValue; var c = 0
      while (c < cb.length) {
        val d = l2(v, cb(c))
        if (d < bestD || (d == bestD && c < best)) { bestD = d; best = c }
        c += 1
      }
      best
    }

    var it = 0
    while (it < iters) {
      val cb = spark.sparkContext.broadcast(centroids)
      val updated = corpus
        .map { case (_, v) => (assignTo(cb.value)(v), v) }
        .toDF("cluster", "vec")
        .select(col("cluster"), posexplode(col("vec")).as(Seq("dim", "x")))
        .groupBy("cluster", "dim")
        .agg(sum(col("x").cast("decimal(38,18)")).as("sx"), count(lit(1)).as("n"))
        // exact decimal SUM (order-independent), then ONE double division and
        // ONE float rounding — a single engine-portable rounding path, unlike
        // decimal division whose result scale/rounding is engine-specific
        .select(col("cluster"), col("dim"),
          (col("sx").cast("double") / col("n")).cast("float").as("c"))
        .collect()
      val next = centroids.map(_.clone())
      updated.foreach(r => next(r.getInt(0))(r.getInt(1)) = r.getFloat(2))
      centroids = next // empty clusters keep their previous centroid
      it += 1
    }

    val cb = spark.sparkContext.broadcast(centroids)
    val out = corpus.map { case (id, v) => (id, assignTo(cb.value)(v)) }
      .toDF("vec_id", "cluster").orderBy("vec_id")
    val pinned = out.localCheckpoint(true)
    corpus.unpersist(false)
    pinned
  }

  // ------------------------------------------------------------------ IVF

  /** ANN via an inverted-file (IVF) index: the corpus is partitioned into
    * `nCells` Voronoi cells around fixed centroids, and each query probes
    * only its `nProbe` nearest cells — candidate generation prunes
    * (nCells - nProbe)/nCells of the corpus before any exact math runs.
    *
    * Centroids are the vectors of the `nCells` smallest ids: deterministic
    * (no RNG, no order-dependent float reductions), reproducible on any
    * re-run. A production pipeline would precompute k-means centroids
    * offline and pass them in — the engine shape (map-side cell assignment,
    * broadcast probe join, candidates-only re-rank) is identical.
    *
    * Scale: cell assignment is a map-side argmax against broadcast centroids
    * (corpus never shuffles); the probe join broadcasts (query × nProbe)
    * rows; only colliding candidates reach the codegen'd cosine re-rank.
    * With nProbe = nCells this degrades gracefully to exact brute force —
    * the recall/latency dial is explicit. */
  def annIvfTopK(embeddings: DataFrame, idCol: String, vecCol: String,
                 queryIds: Seq[Long], k: Int,
                 nCells: Int = 16, nProbe: Int = 4): DataFrame = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    val corpus = vectors(embeddings, idCol, vecCol)

    val centroids: Array[(Int, Array[Float])] =
      corpus.filter(_._1 < nCells).collect().sortBy(_._1)
        .zipWithIndex.map { case ((_, v), c) => (c, v) }
    require(centroids.length == nCells, s"need ids 0..${nCells - 1} as centroid seeds")
    val cbc = spark.sparkContext.broadcast(centroids)

    def nearestCells(v: Array[Float], n: Int): Array[Int] =
      cbc.value.map { case (c, cv) => (c, cosine(v, cv)) }
        .sortBy { case (c, cos) => (-cos, c) }.take(n).map(_._1)

    // map-side: (cell, id, vec) — one cell per corpus vector, no duplication
    val assigned = corpus.map { case (id, v) => (nearestCells(v, 1)(0), id, v) }
      .toDF("cell", "vec_id", "vec")

    val queries = corpus.filter(r => queryIds.contains(r._1)).collect()
    val probes = spark.createDataset(queries.toIndexedSeq.flatMap { case (qid, qv) =>
      nearestCells(qv, nProbe).map(c => (c, qid))
    }).toDF("cell", "query_id")
    val queryVecs = spark.createDataset(queries.toIndexedSeq).toDF("query_id", "qvec")

    val cands = assigned.join(broadcast(probes), Seq("cell"))
      .filter(col("vec_id") =!= col("query_id"))
      .join(broadcast(queryVecs), "query_id")
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        Native.cosineF32(col("vec"), col("qvec")).as("cosine"))

    finalTopK(cands, k)
  }

  /** Near-duplicate pairs by embedding cosine ≥ threshold. Same banded-LSH
    * shape as Dedup.minhashLsh: shuffle on (band, sig), pairs only within
    * buckets, `maxBucket` caps pathological hot buckets. */
  def nearDupCosine(embeddings: DataFrame, idCol: String, vecCol: String,
                    threshold: Double, bands: Int = 32, bitsPerBand: Int = 16,
                    seed: Long = 42L, maxBucket: Int = 1000): DataFrame = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    val corpus = vectors(embeddings, idCol, vecCol)
    val dim = corpus.head()._2.length
    val planes = spark.sparkContext.broadcast(hyperplanes(bands * bitsPerBand, dim, seed))

    // ids-only band shuffle (vectors not duplicated ×bands), candidate pairs
    // fetch both vectors via two id-joins against the corpus, cosine last
    val vecs = embeddings
      .select(col(idCol).cast("long").as("vid"), col(vecCol).as("v")).persist()
    val pairs = corpus.flatMap { case (id, v) =>
        bandSignature(v, planes.value, bitsPerBand).iterator.zipWithIndex
          .map { case (sig, b) => ((b, sig), id) }
      }
      .groupByKey(_._1)
      .flatMapGroups { (_, it) =>
        val m = it.map(_._2).toArray.sorted.take(maxBucket)
        for {
          i <- (0 until m.length).iterator
          j <- (i + 1) until m.length
        } yield (m(i), m(j))
      }
      .toDF("vec_id_a", "vec_id_b").distinct()

    val result = pairs
      .join(vecs.select(col("vid").as("vec_id_a"), col("v").as("v_a")), "vec_id_a")
      .join(vecs.select(col("vid").as("vec_id_b"), col("v").as("v_b")), "vec_id_b")
      .select(col("vec_id_a"), col("vec_id_b"),
        Native.cosineF32(col("v_a"), col("v_b")).as("cosine")) // codegen'd re-rank
      .filter(col("cosine") >= threshold)
      .orderBy("vec_id_a", "vec_id_b")
    // eager-materialize the small pair result, then free the cached vectors
    // (otherwise every call pins a corpus-sized cache for the app lifetime)
    val out = result.localCheckpoint(true)
    vecs.unpersist(false)
    out
  }

  /** Distributed Gram matrix G = XᵀX over the embedding column — the
    * one-pass primitive under PCA, covariance, and linear probes. Each
    * partition accumulates its LOCAL d×(d+1)/2 upper-triangle outer-product
    * partial, so the shuffle carries partitions × d² cells instead of the
    * n × d² a posexplode self-join would move — the corpus itself never
    * shuffles (same contract as the ANN paths above).
    *
    * Exactness recipe: elements are quantized to integer micro-units with
    * `round(v·1e6)` (an IEEE multiply + half-away-from-zero round that
    * Spark and DuckDB compute bit-identically), so every accumulation below
    * is exact integer math — the result is independent of partition count
    * and of the oracle's summation order. Long partials are safe to ~9e6
    * unit-norm rows per partition (q² ≤ 1e12 per term vs 2^63), orders of
    * magnitude above any sane `maxPartitionBytes`; the global merge sums as
    * DECIMAL(38,0) (exact, like DuckDB's HUGEINT) before the final double
    * division. */
  /** Per-dimension corpus profile of an embedding column — the health
    * check before vectors feed ANN/clustering: dead dimensions (constant —
    * wasted index capacity), exploding dimensions (∞/NaN upstream bugs
    * show as huge std), and per-dim mean/std for whitening decisions.
    *
    * posexplode + ONE hash aggregate: Spark's partial (map-side)
    * aggregation collapses each partition to ≤dims rows before the
    * exchange, so shuffle volume is partitions × dims — corpus-size-free.
    * Each float is exact as a double; values are quantized DECIMAL(18,9)
    * per element before the order-independent decimal sums (floats carry
    * ≤9 significant decimal digits, so the quantization is value-preserving
    * for unit-scale embeddings); min/max are exact order statistics; the
    * std chain is the fixed double formula LAST. */
  def dimProfile(embeddings: DataFrame, vecCol: String): DataFrame = {
    val v = col("v").cast("double").cast("decimal(18,9)")
    embeddings
      .select(posexplode(col(vecCol)).as(Seq("pos", "v")))
      .select((col("pos") + 1).cast("long").as("dim"), v.as("q"))
      .groupBy("dim")
      .agg(count(lit(1)).as("n"),
        sum(col("q")).as("sx"),
        sum(col("q") * col("q")).as("sxx"),
        min(col("q")).cast("double").as("min_v"),
        max(col("q")).cast("double").as("max_v"))
      .select(col("dim"), col("n"),
        (col("sx").cast("double") / col("n").cast("double"))
          .cast("decimal(18,9)").cast("double").as("mean"),
        sqrt((col("n").cast("double") * col("sxx").cast("double")
            - col("sx").cast("double") * col("sx").cast("double"))
          / (col("n").cast("double") * col("n").cast("double")))
          .cast("decimal(18,9)").cast("double").as("std"),
        col("min_v"), col("max_v"),
        (col("min_v") === col("max_v")).as("dead"))
      .orderBy("dim")
  }

  def gramMatrix(embeddings: DataFrame, vecCol: String): DataFrame = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    val quantized = embeddings.select(
      transform(col(vecCol), e => round(e.cast("double") * lit(1000000.0)).cast("long"))
        .as("q"))
      .filter(size(col("q")) > 0) // null/empty vectors contribute nothing
    val partials = quantized.as[Array[Long]].mapPartitions { it =>
      var acc: Array[Long] = null
      var d = 0
      it.foreach { v =>
        if (acc == null) { d = v.length; acc = new Array[Long](d * (d + 1) / 2) }
        var i = 0; var c = 0
        while (i < d) {
          var j = i
          while (j < d) { acc(c) += v(i) * v(j); c += 1; j += 1 }
          i += 1
        }
      }
      if (acc == null) Iterator.empty
      else {
        // flat triangle back to 1-based (i, j) — SQL array indexing
        val out = new Array[(Int, Int, Long)](acc.length)
        var i = 0; var c = 0
        while (i < d) {
          var j = i
          while (j < d) { out(c) = (i + 1, j + 1, acc(c)); c += 1; j += 1 }
          i += 1
        }
        out.iterator
      }
    }.toDF("i", "j", "partial")
    partials.groupBy("i", "j")
      .agg(sum(col("partial").cast("decimal(38,0)")).as("g"))
      .select(col("i"), col("j"),
        (col("g").cast("double") / lit(1.0e12)).as("dot"))
      .orderBy("i", "j")
  }

  /** SemDeDup-shaped semantic deduplication (Abbas et al. 2023): all-pairs
    * cosine WITHIN a cluster, where the cluster assignment (k-means cell,
    * label, LSH bucket) bounds the quadratic blowup — the whole point of
    * the published design is that O(Σ cluster²) ≪ O(n²) when clusters are
    * ~√n-sized. Drop rule: a vector is `dropped` when ANY lower-id vector
    * in its cluster is within `threshold` (whether or not that neighbor
    * itself survives) — deterministic, single-pass, oracle-expressible;
    * chains that need one keeper per connected GROUP compose this with
    * [[Dedup.connectedComponents]] over the emitted pairs.
    *
    * Shape: one shuffle on the cluster key for the self-join; the
    * codegen'd [[graft.functions.Native.cosineF32]] runs candidates-only;
    * verdicts (ids + booleans) are the only further movement. Caches are
    * released after an eager checkpoint of the row-sized verdict table.
    * Threshold semantics assume the caller picks τ with margin to the
    * natural cosine range (planted dups ≈ 1.0 vs organic ≤ ~0.5 here) —
    * an ulp-boundary τ would be engine-sensitive. */
  def semanticDedup(embeddings: DataFrame, idCol: String, vecCol: String,
                    clusterCol: String, threshold: Double): DataFrame = {
    val v = embeddings.select(col(clusterCol).as("cluster"),
        col(idCol).cast("long").as("vid"), col(vecCol).as("v"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val dropped = v.select(col("cluster"), col("vid").as("a"), col("v").as("va"))
      .join(v.select(col("cluster"), col("vid").as("b"), col("v").as("vb")),
        Seq("cluster"))
      .filter(col("a") < col("b") &&
        Native.cosineF32(col("va"), col("vb")) >= threshold)
      .select(col("b").as("vid")).distinct()
    val out = v.join(dropped.withColumn("__d", lit(true)), Seq("vid"), "left")
      .select(col("vid").as("vec_id"), col("cluster"),
        coalesce(col("__d"), lit(false)).as("dropped"))
      .orderBy("vec_id")
      .localCheckpoint(true)
    v.unpersist(false)
    out
  }

  /** Symmetric int8 quantization error profile: per vector, the max-abs
    * scale (amax/127), round-to-nearest reconstruction error MSE, and the
    * worst per-dimension error — the go/no-go readout before shipping a
    * quantized ANN index or activation cache (is int8 loss acceptable per
    * vector, which vectors need fp16 fallback).
    *
    * Entirely map-side (higher-order array functions inside codegen — no
    * shuffle, no explode: rows never leave their partition), so it scales
    * like a projection. Per element: one divide, one round (half-away —
    * same rule both engines), one clamp, one multiply-subtract, all in
    * index order; the error sum rides `aggregate`'s sequential fold —
    * mirrored by DuckDB's list_sum — and outputs quantize to 9 dp. An
    * all-zero vector short-circuits to (0, 0, 0), not NaN. */
  /** kNN label-noise screen (the Confident-Learning shape, Northcutt 2021,
    * with hard votes): flag every labeled vector whose k exact nearest
    * neighbors majority-vote a DIFFERENT label — mislabeled rows, class
    * overlap, and annotation drift surface here before they poison a
    * classifier or an eval set.
    *
    * Every vector is a query, so the query set is collect-and-broadcast —
    * the LABELED-EVAL-SET contract (10⁴–10⁶ rows), same scan shape as
    * [[bruteForceTopK]]: one corpus pass with bounded per-partition heaps,
    * partitions × n × k candidates out. For corpus-scale label screens
    * swap the candidate generator for [[annIvfTopK]]'s probe join — the
    * vote/flag tail below is identical. Majority ties break to the
    * smallest label id (max(struct(votes, −label)) — one hash aggregate,
    * no per-query window). */
  def knnLabelNoise(embeddings: DataFrame, idCol: String, vecCol: String,
                    labelCol: String, k: Int): DataFrame = {
    val corpus = vectors(embeddings, idCol, vecCol)
    val queries = corpus.collect() // eval-set contract — see scaladoc
    val nn = finalTopK(heapScan(corpus, queries, k), k)
    val nbrLabels = embeddings.select(col(idCol).cast("long").as("neighbor_id"),
      col(labelCol).cast("long").as("n_label"))
    val own = embeddings.select(col(idCol).cast("long").as("vec_id"),
      col(labelCol).cast("long").as("label"))
    nn.join(nbrLabels, "neighbor_id")
      .groupBy(col("query_id").as("vec_id"), col("n_label"))
      .agg(count(lit(1)).as("votes"))
      .groupBy("vec_id")
      .agg(max(struct(col("votes").as("v"), (-col("n_label")).as("negl"))).as("__m"))
      .select(col("vec_id"), (-col("__m.negl")).as("majority_label"),
        col("__m.v").as("votes"))
      .join(own, "vec_id")
      .select(col("vec_id"), col("label"), col("majority_label"), col("votes"),
        (col("majority_label") =!= col("label")).as("flagged"))
      .orderBy("vec_id")
  }

  def quantizationProfile(embeddings: DataFrame, idCol: String, vecCol: String): DataFrame = {
    // STAGED projections, not one inlined tree: higher-order functions run
    // interpreted (outside whole-stage codegen), and inlining `scale`
    // inside the error lambda makes every array ELEMENT recompute the
    // row's array_max — O(d²) interpreted work per row, tripled again by
    // the three readouts sharing the errs subtree (measured 4.3 s for
    // 2000×64 rows; ~1 s staged). Multiple references per alias keep
    // CollapseProject from re-inlining. Values are bit-identical.
    val s1 = embeddings.select(col(idCol).cast("long").as("vec_id"),
      transform(col(vecCol), x => x.cast("double")).as("xd"),
      array_max(transform(col(vecCol), x => abs(x.cast("double")))).as("amax"),
      size(col(vecCol)).cast("double").as("d"))
    // zero vectors take a SAFE divisor (their readouts are forced to 0 by
    // the when-guards below; the staged errs would otherwise evaluate
    // x/0 eagerly, which ANSI mode rejects even for doubles)
    val s2 = s1.select(col("vec_id"), col("xd"), col("amax"), col("d"),
      when(col("amax") === 0d, lit(1d))
        .otherwise(col("amax") / lit(127d)).as("sc"))
    val s3 = s2.select(col("vec_id"), col("amax"), col("d"), col("sc"),
      transform(col("xd"), x =>
        x - least(greatest(round(x / col("sc")), lit(-127d)), lit(127d))
          * col("sc")).as("errs"))
    s3.select(col("vec_id"),
        when(col("amax") === 0d, lit(0d))
          .otherwise(col("sc").cast("decimal(18,9)").cast("double")).as("scale"),
        when(col("amax") === 0d, lit(0d))
          .otherwise((aggregate(col("errs"), lit(0d), (acc, e) => acc + e * e)
            / col("d")).cast("decimal(18,9)").cast("double")).as("mse"),
        when(col("amax") === 0d, lit(0d))
          .otherwise(array_max(transform(col("errs"), e => abs(e)))
            .cast("decimal(18,9)").cast("double")).as("max_abs_err"))
      .orderBy("vec_id")
  }

  /** PCA projection of an embedding column (the q223 path) —
    * dimensionality reduction before ANN / clustering / visualization
    * (cheaper distance math, denser indexes). Top-k components by UNROLLED
    * quantized power iteration + Hotelling deflation rather than an exact
    * eigensolve: a fixed-step computation every engine can replay
    * bit-for-bit in SQL CTEs. Returns (id, pc1..pck) scalar columns:
    *
    *   pass 1 (distributed): exact fixed-point moments — per-dim sums of
    *     round(x·1e9) and upper-triangular pair sums of round(x_i·x_j·1e9)
    *     as BIGINTs, folded into one d²-sized long array per partition and
    *     tree-reduced to the driver — never row-scaled;
    *   driver (d²-bounded metadata fold, the partition-sketch contract):
    *     covariance entries quantized to 1e12 fixed-point, then `iters`
    *     power-iteration matvecs per component with every term rounded
    *     HALF_UP (java.math.BigDecimal — bit-identical to Spark's and
    *     DuckDB's round()) and each vector renormalized by its pivot (the
    *     max-|entry|, ties to the smallest index — sign canonicalization
    *     for free: the pivot entry is +1), λ read at the pivot after one
    *     more matvec, Hotelling deflation C − λ·vvᵀ/(vᵀv) re-quantized;
    *   pass 2 (map-side): project each vector on the literal components,
    *     per-term round((x_i−μ_i)·vq_i) into exact integer sums.
    *
    * Every intermediate is an exact integer or a correctly-rounded
    * rational (BIGINT / power of ten), so the unrolled SQL oracle matches
    * hash-exactly. `iters` fixed ⇒ the output is an APPROXIMATION of the
    * eigenbasis, scaled by each component's pivot rather than unit-norm —
    * for variance-dominant components 3 steps is plenty (SimilaritySpec
    * pins a planted line), and agreement is exact by construction
    * regardless. */
  def pcaPowerProject(embeddings: DataFrame, idCol: String, vecCol: String,
                      k: Int = 2, iters: Int = 3): DataFrame = {
    require(k >= 1 && k <= 8 && iters >= 1 && iters <= 6,
      "fixed unrollable step counts only")
    val spark = embeddings.sparkSession
    // degenerate -> empty, never a crash (the ratioMetricDelta contract):
    // an empty frame has no dimensionality to extract, so return the empty
    // projection with the right schema instead of throwing at head()
    val dRow = embeddings.select(size(col(vecCol)).as("d")).take(1)
    if (dRow.isEmpty)
      return embeddings.select(
        col(idCol) +: (1 to k).map(c => lit(null).cast("double").as(s"pc$c")): _*)
    val d = dRow.head.getInt(0)
    val ex = embeddings.select(col(idCol).cast("long").as("id"),
      posexplode(transform(col(vecCol), x => x.cast("double"))).as(Seq("i", "x")))
    // ONE moments job: the d(d+1)/2 pair terms, the d linear terms and the
    // row count fold into per-partition long arrays and tree-reduce to the
    // driver (the partition-sketch contract — each sketch ~17 KB,
    // d²-bounded, never row-scaled). This replaced a nested-TRANSFORM
    // explode → hash
    // aggregate: higher-order lambdas are interpreted, and building+hashing
    // rows×d²/2 structs measured 4.4 s at sf0.1 vs ~0.3 s for this fold.
    // Each finite term is java.math.BigDecimal.valueOf(x).setScale(0,
    // HALF_UP) — the body of Spark's round(double) for finite inputs — so
    // the sums are bit-identical to the old round(...).cast(long)
    // expression, including the null-element skips (PcaMomentsSpec pins the
    // equivalence). NaN/Infinity short-circuit FIRST: Spark's round()
    // returns them unchanged and the old non-ANSI cast-to-long then gave
    // 0 / ±Long.MaxValue — BigDecimal.valueOf would throw instead, turning
    // one bad embedding element into a job failure (round-12 advisory).
    def rndTerm(x: Double): Long =
      if (x.isNaN) 0L
      else if (x == Double.PositiveInfinity) Long.MaxValue
      else if (x == Double.NegativeInfinity) Long.MinValue
      else java.math.BigDecimal.valueOf(x)
        .setScale(0, java.math.RoundingMode.HALF_UP).doubleValue().toLong
    // slot layout: [0, d) linear sums; pair (i ≤ j) at d + Σ_{a<i}(d−a) + (j−i)
    def pairSlot(i: Int, j: Int): Int = d + i * d - i * (i - 1) / 2 + (j - i)
    val nTerms = d + d * (d + 1) / 2
    // treeReduce, NOT collect(): the per-partition sketches merge in
    // O(log P) distributed rounds, so the driver receives a handful of
    // ~d²-sized arrays instead of one per input task — at 100 TB (~10⁵-10⁶
    // scan tasks) a collect() of every sketch is GBs of driver traffic
    // (round-12 verdict item 3). Long addition is associative and
    // commutative, so the merged totals are bit-identical to the old
    // sequential driver fold at any merge order.
    val (nRowsL, totals) = {
      import embeddings.sparkSession.implicits._
      embeddings.select(col(vecCol).cast("array<double>").as("v"))
        .mapPartitions { it =>
          val acc = new Array[Long](nTerms)
          var n = 0L
          it.foreach { r =>
            n += 1
            if (!r.isNullAt(0)) {
              val v = r.getSeq[java.lang.Double](0)
              val len = math.min(v.length, d)
              var i = 0
              while (i < len) {
                val xi = v(i)
                if (xi != null) {
                  val xd = xi.doubleValue()
                  acc(i) += rndTerm(xd * 1e9d)
                  var j = i
                  while (j < len) {
                    val xj = v(j)
                    if (xj != null) acc(pairSlot(i, j)) += rndTerm(xd * xj.doubleValue() * 1e9d)
                    j += 1
                  }
                }
                i += 1
              }
            }
          }
          Iterator.single((n, acc))
        }.rdd.treeReduce({ case ((n1, a1), (n2, a2)) =>
          val out = new Array[Long](nTerms)
          var i = 0
          while (i < nTerms) { out(i) = a1(i) + a2(i); i += 1 }
          (n1 + n2, out)
        })
    }
    val nRows = nRowsL.toDouble
    val sx = (0 until d).map(i => i -> totals(i)).toMap
    val sp = (for (i <- 0 until d; j <- i until d) yield (i, j) -> totals(pairSlot(i, j))).toMap
    // HALF_UP away from zero — the exact semantic of Spark round(double)
    // and DuckDB round(): exact binary expansion, then decimal rounding
    def rnd(x: Double): Long = new java.math.BigDecimal(x)
      .setScale(0, java.math.RoundingMode.HALF_UP).longValue
    val mu = Array.tabulate(d)(i => sx(i).toDouble / 1e9 / nRows)
    // covariance, 1e12 fixed-point; full matrix mirrored from the triangle
    var cq = Array.tabulate(d, d) { (i, j) =>
      val (a, b) = if (i <= j) (i, j) else (j, i)
      rnd((sp((a, b)).toDouble / 1e9 / nRows - mu(i) * mu(j)) * 1e12)
    }
    def pivotOf(v: Array[Long]): Int =
      v.indices.maxBy(i => (math.abs(v(i)), -i))
    def matvec(c: Array[Array[Long]], vq: Array[Long]): Array[Long] =
      Array.tabulate(d) { i =>
        var acc = 0L
        var j = 0
        while (j < d) { acc += rnd(c(i)(j).toDouble / 1e12 * vq(j).toDouble * 1e3); j += 1 }
        acc
      }
    val comps = Array.newBuilder[Array[Long]]
    for (_ <- 1 to k) {
      var vq = Array.fill(d)(1000000L) // scale 1e6
      var degenerate = false
      for (_ <- 1 to iters if !degenerate) {
        val w = matvec(cq, vq)
        val m = pivotOf(w)
        // zero-variance residual: the pivot matvec value is 0, so the
        // renormalization wi/w(m) would be NaN -> BigDecimal(NaN) throws.
        // Degrade to the all-zero component (projections read 0.0) —
        // degenerate -> harmless output, never a crash
        if (w(m) == 0L) { degenerate = true; vq = Array.fill(d)(0L) }
        else vq = w.map(wi => rnd(wi.toDouble / w(m).toDouble * 1e6))
      }
      comps += vq
      if (!degenerate) {
        val w = matvec(cq, vq)
        val lam = w(pivotOf(vq)).toDouble / 1e9
        val vtv = vq.map(v => v * v).sum.toDouble // ≤ d·1e12 — exact double
        cq = Array.tabulate(d, d)((i, j) =>
          rnd((cq(i)(j).toDouble / 1e12 - lam * vq(i).toDouble * vq(j).toDouble / vtv) * 1e12))
      }
    }
    val cs = comps.result()
    val muLit = array(mu.map(lit): _*)
    val pcs = cs.zipWithIndex.map { case (vq, c) =>
      val vLit = array(vq.map(v => lit(v.toDouble)): _*)
      // P/1e6: exact integer < 2^53 over a power of ten — the correctly-
      // rounded rational in both engines; a decimal cast here would risk
      // the >9-sig-digit ulp flip instead
      (sum(round((col("x") - element_at(muLit, col("i") + 1)) *
        element_at(vLit, col("i") + 1)).cast("long")).cast("double") / lit(1e6d))
        .as(s"pc${c + 1}")
    }
    ex.groupBy("id").agg(pcs.head, pcs.tail: _*)
      .select(col("id").as(idCol) +: cs.indices.map(c => col(s"pc${c + 1}")): _*)
      .orderBy(idCol)
  }

  /** Item-item collaborative filtering on implicit feedback (the
    * co-occurrence half of Sarwar et al. 2001 / Amazon's item-to-item):
    * sim(i,j) = |U_i ∩ U_j| / √(|U_i|·|U_j|) — cosine over binary user
    * vectors — for "users who touched i also touched j" recommendations.
    *
    * Shuffle shape (the [[graft.SparkEntry]] co-occurrence recipe): one
    * distinct to (user, item), one collect_set per user whose sorted-array
    * pair explode emits each unordered pair ONCE (i<j), one pair count.
    * The user→items aggregate reuses the distinct's hash partitioning, so
    * the whole pipeline is two row-sized shuffles + one pair-sized one —
    * never an all-pairs item join. Item totals are an items-sized table,
    * broadcast twice. Per-user item lists are bounded by the activity cap
    * the caller enforces upstream (here: distinct props values, ≤100) —
    * the published mitigation for power users at web scale.
    *
    * Exactness: counts are integers; the one cosine division happens once
    * per surviving pair and is quantized to DECIMAL(18,6) — portable. */
  def itemItemCF(events: DataFrame, userCol: String, itemCol: String,
                 minSupport: Int = 5, topK: Int = 50): DataFrame = {
    val ui = events.select(col(userCol).as("u"), col(itemCol).as("i"))
      .filter(col("i").isNotNull).distinct()
    val itemN = ui.groupBy(col("i")).agg(count(lit(1)).as("n"))
    val pairs = ui.groupBy("u")
      .agg(sort_array(collect_set(col("i"))).as("is"))
      .select(posexplode(col("is")).as(Seq("x", "ia")), col("is"))
      .select(col("ia"), explode(slice(col("is"), col("x") + lit(2),
        size(col("is")))).as("ib"))
      .groupBy("ia", "ib").agg(count(lit(1)).as("n_both"))
      .filter(col("n_both") >= minSupport)
    pairs
      .join(broadcast(itemN.select(col("i").as("ia"), col("n").as("n_a"))), "ia")
      .join(broadcast(itemN.select(col("i").as("ib"), col("n").as("n_b"))), "ib")
      .select(col("ia"), col("ib"), col("n_both"), col("n_a"), col("n_b"),
        (col("n_both").cast("double") /
          sqrt((col("n_a") * col("n_b")).cast("double")))
          .cast("decimal(18,6)").cast("double").as("cosine"))
      .orderBy(col("cosine").desc, col("ia"), col("ib"))
      .limit(topK)
  }

  /** Kernel two-sample test (MMD², Gretton et al. 2012) between two
    * embedding populations — the EMBEDDING-space drift detector: PSI/KS
    * compare scalar columns; MMD compares whole vector distributions, the
    * check to run when a new corpus snapshot or encoder version might
    * have moved the representation (identical distributions → MMD² ≈ 0).
    * Unbiased estimator over an RBF kernel k(x,y) = exp(−γ‖x−y‖²):
    * MMD² = 2ΣΣ_{i<j}k(x,x)/m(m−1) + 2ΣΣ_{i<j}k(y,y)/n(n−1) − 2ΣΣk(x,y)/mn.
    *
    * Scale contract: both sides CAP deterministically (lowest `cap` ids) —
    * MMD is quadratic by definition, so the sample is the knob, not the
    * join (240k kernel pairs at the default; the statistic converges at
    * O(1/√cap) — more rows buy little). Exactness: squared distances use
    * the mirrored float-product/double-accumulation dot recipe (the q64
    * rule), γ = 2⁻⁶ is binary-exact, each kernel term quantizes
    * DECIMAL(18,5) before its exact sum, and MMD² is one double chain
    * scale 9. */
  def mmdTest(emb: DataFrame, idCol: String, vecCol: String, inX: Column,
              cap: Int = 200, gamma: Double = 0.015625): DataFrame = {
    def side(cond: Column, pre: String): DataFrame =
      emb.filter(cond).orderBy(idCol).limit(cap)
        .select(col(idCol).as(s"${pre}id"), col(vecCol).as(s"${pre}v"),
          VectorHof.dot(col(vecCol), col(vecCol)).as(s"${pre}n"))
        .localCheckpoint()
    val x = side(inX, "x"); val y = side(!inX, "y")
    def kTerm(ln: Column, rn: Column, lv: Column, rv: Column): Column =
      exp(lit(-gamma) * (ln + rn - lit(2d) * VectorHof.dot(lv, rv)))
        .cast("decimal(18,5)")
    val xx = x.crossJoin(x.select(col("xid").as("bid"), col("xv").as("bv"), col("xn").as("bn")))
      .filter(col("xid") < col("bid"))
      .agg(sum(kTerm(col("xn"), col("bn"), col("xv"), col("bv"))).as("sxx"),
        count(lit(1)).as("npx"))
    val yy = y.crossJoin(y.select(col("yid").as("bid"), col("yv").as("bv"), col("yn").as("bn")))
      .filter(col("yid") < col("bid"))
      .agg(sum(kTerm(col("yn"), col("bn"), col("yv"), col("bv"))).as("syy"),
        count(lit(1)).as("npy"))
    val xy = x.crossJoin(y)
      .agg(sum(kTerm(col("xn"), col("yn"), col("xv"), col("yv"))).as("sxy"),
        count(lit(1)).as("npxy"))
    val m = x.count().toDouble; val n = y.count().toDouble
    xx.crossJoin(broadcast(yy)).crossJoin(broadcast(xy))
      .select(lit(m.toLong).as("m"), lit(n.toLong).as("n"),
        (lit(2d) * col("sxx").cast("double") / (lit(m) * (lit(m) - 1d)) +
         lit(2d) * col("syy").cast("double") / (lit(n) * (lit(n) - 1d)) -
         lit(2d) * col("sxy").cast("double") / (lit(m) * lit(n)))
          .cast("decimal(18,9)").cast("double").as("mmd2"))
  }

  // ------------------------------------------------ product quantization

  /** Product-quantization ANN (Jégou, Douze & Schmid 2011) — the MEMORY
    * side of the ANN ladder: [[annLshTopK]]/[[annIvfTopK]] prune which
    * vectors get exact math; PQ compresses the vectors themselves, m
    * sub-block codes of log₂k bits replacing 4·dim bytes (64-dim float32
    * → 4 bytes at m=4/k=8: 64×), which is what makes a 100 TB embedding
    * corpus fit an ANN serving tier at all. Distances are approximated
    * by ADC (asymmetric distance computation): per query, an m×k table
    * of exact query-to-centroid sub-distances is computed ONCE, and each
    * corpus vector costs m table lookups — no float math per candidate.
    *
    * Spark shape: codebooks train like [[kmeansAssign]] but ALL m blocks
    * share each iteration's single shuffle (assignment is map-side vs the
    * broadcast codebook; the update aggregate keys on (block, cluster,
    * dim)); encoding is one map-side pass (no shuffle); the ADC scan is
    * the [[bruteForceTopK]] bounded-heap recipe over CODES, so only
    * partitions × queries × k rows ever shuffle.
    *
    * Exactness/portability: the q81 recipe throughout — deterministic
    * init (sub-vectors of ids 0..k−1), exact DECIMAL(38,18) centroid
    * sums with ONE double division + float rounding, fixed iterations.
    * ADC table entries are quantized to scale-10 FIXED-POINT LONGS
    * driver-side; a candidate's distance is an exact integer sum of m
    * of them, so ranking (dist, id) and the emitted `adc_dist` are
    * bit-identical in any engine that mirrors the table (the unrolled
    * SQL oracle does). Requires ids 0..k−1 present and dim % m == 0. */
  def pqTopK(embeddings: DataFrame, idCol: String, vecCol: String,
             queryIds: Seq[Long], kNeighbors: Int,
             m: Int = 4, kCentroids: Int = 8, iters: Int = 2): DataFrame = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    val corpus = vectors(embeddings, idCol, vecCol).persist()
    val dim = corpus.head()._2.length
    require(dim % m == 0, s"dim $dim must divide into $m blocks")
    val dsub = dim / m

    // init: sub-vectors of ids 0..k-1 (the kmeansAssign contract)
    val seeds = corpus.filter(_._1 < kCentroids).collect().sortBy(_._1)
    require(seeds.length == kCentroids, s"need ids 0..${kCentroids - 1} as seeds")
    var codebook: Array[Array[Array[Float]]] = // [block][cluster][dsub]
      Array.tabulate(m)(b => seeds.map(s => s._2.slice(b * dsub, (b + 1) * dsub)))

    def l2(v: Array[Float], off: Int, c: Array[Float]): Double = {
      var s = 0.0; var i = 0
      while (i < c.length) { val d = v(off + i).toDouble - c(i); s += d * d; i += 1 }
      s
    }
    def assignBlock(cb: Array[Array[Array[Float]]], v: Array[Float], b: Int): Int = {
      var best = 0; var bestD = Double.MaxValue; var c = 0
      val blocks = cb(b)
      while (c < blocks.length) {
        val d = l2(v, b * dsub, blocks(c))
        if (d < bestD || (d == bestD && c < best)) { bestD = d; best = c }
        c += 1
      }
      best
    }

    var it = 0
    while (it < iters) {
      val bc = spark.sparkContext.broadcast(codebook)
      val updated = corpus.flatMap { case (_, v) =>
        (0 until m).iterator.flatMap { b =>
          val cl = assignBlock(bc.value, v, b)
          (0 until dsub).iterator.map(d => (b, cl, d, v(b * dsub + d)))
        }
      }.toDF("blk", "cluster", "d", "x")
        .groupBy("blk", "cluster", "d")
        // nano-unit integer sums, NOT a decimal cast of the float: DuckDB's
        // float→decimal conversion is inexact past ~9 significant digits
        // (measured: CAST(-0.1546943634748459f AS DECIMAL(38,18)) ends
        // …362540802048, exact is …363474845886), so the q81 recipe's
        // decimal(38,18) sums are NOT engine-portable at PQ's sensitivity;
        // round(x·1e9) is the same double op in both engines
        .agg(sum(round(col("x").cast("double") * 1e9d).cast("decimal(19,0)")).as("sx"),
          count(lit(1)).as("n"))
        .select(col("blk"), col("cluster"), col("d"),
          (col("sx").cast("double") / col("n").cast("double") / 1e9d)
            .cast("float").as("c"))
        .collect()
      val next = codebook.map(_.map(_.clone()))
      updated.foreach(r => next(r.getInt(0))(r.getInt(1))(r.getInt(2)) = r.getFloat(3))
      codebook = next // empty clusters keep their previous centroid
      it += 1
    }

    // encode map-side: (id, m codes) — the compressed corpus
    val bcFinal = spark.sparkContext.broadcast(codebook)
    val codes = corpus.map { case (id, v) =>
      (id, Array.tabulate(m)(b => assignBlock(bcFinal.value, v, b)))
    }

    // ADC tables: per query, m×k sub-distances as scale-10 fixed-point
    // longs, quantized PER DIMENSION before the sum — each per-dim
    // (q−c)² is the same IEEE product in any engine, so quantizing there
    // (not after an order-dependent block sum) makes the table, every
    // candidate distance, and the ranking bit-identical to the oracle
    val queries = corpus.filter(r => queryIds.contains(r._1)).collect().sortBy(_._1)
    val tables: Array[(Long, Array[Array[Long]])] = queries.map { case (qid, qv) =>
      (qid, Array.tabulate(m)(b => Array.tabulate(kCentroids) { c =>
        val cb = codebook(b)(c); var t = 0L; var i = 0
        while (i < cb.length) {
          val d = qv(b * dsub + i).toDouble - cb(i)
          t += BigDecimal(d * d).setScale(10, BigDecimal.RoundingMode.HALF_UP)
            .underlying.movePointRight(10).longValueExact
          i += 1
        }
        t
      }))
    }
    val bt = spark.sparkContext.broadcast(tables)
    val cands = codes.mapPartitions { it =>
      val qs = bt.value
      // head = current worst kept = (MAX distance, MAX id) under natural
      // tuple order — the eviction test below replaces the head only when
      // (dist, id) < head, so among tied-distance candidates the LARGER id
      // leaves first. PQ makes exact ties pervasive (only k^m distinct
      // codes), so an inverted tie order (the old (dist, -id)) returned the
      // wrong top-k whenever tied ids arrived out of ascending order.
      val heaps = qs.map(q => (q._1, collection.mutable.PriorityQueue.empty[(Long, Long)](
        Ordering.by[(Long, Long), (Long, Long)](x => (x._1, x._2)))))
      it.foreach { case (id, code) =>
        var qi = 0
        while (qi < qs.length) {
          val (qid, tab) = qs(qi)
          if (qid != id) {
            var dist = 0L; var b = 0
            while (b < m) { dist += tab(b)(code(b)); b += 1 }
            val h = heaps(qi)._2
            if (h.size < kNeighbors) h.enqueue((dist, id))
            else if (dist < h.head._1 || (dist == h.head._1 && id < h.head._2)) {
              h.dequeue(); h.enqueue((dist, id))
            }
          }
          qi += 1
        }
      }
      heaps.iterator.flatMap { case (qid, h) => h.iterator.map { case (d, id) => (qid, id, d) } }
    }.toDF("query_id", "neighbor_id", "dist10")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(col("dist10"), col("neighbor_id"))
    val out = cands
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= kNeighbors)
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        // dist10 < 2^53 ⇒ the double division by the exactly-representable
        // 1e10 is the correctly-rounded value of the exact rational — the
        // same double an oracle gets from CAST(exact-decimal AS DOUBLE)
        (col("dist10").cast("double") / 1e10d).as("adc_dist"))
      .orderBy("query_id", "rank")
      .localCheckpoint(true)
    corpus.unpersist(false)
    out
  }

  /** DBSCAN density clustering on a 2-D projection (Ester et al., KDD'96)
    * — clustering WITHOUT choosing k, the shape-agnostic companion of
    * [[kmeansAssign]]: a point with ≥ minPts neighbors (self included)
    * within eps is CORE; core points within eps of each other chain into
    * one cluster; a non-core point within eps of a core is a BORDER
    * member of that core's cluster; everything else is NOISE.
    *
    * Scale shape: the eps-neighbor graph comes from a cell-grid self-join
    * (cell side = eps, 3×3 neighborhood probe — the [[RangeJoin
    * .gridProximityJoin]] pattern inlined for double coordinates), so
    * candidate pairs are density-bounded, never all-pairs; cluster ids
    * are the min core id per component via the alternating-star CC
    * (O(log² n) rounds, everything node-hashed — [[Dedup
    * .connectedComponentsStar]]); border assignment is one more
    * pair-table aggregate (min cluster over core neighbors —
    * deterministic). Distances compare as mirrored double d² ≤ eps²
    * (IEEE products of exactly-cast floats — identical in both engines;
    * no sqrt, no epsilon fuzz). Output: (id, role core|border|noise,
    * cluster_id NULL for noise), totally ordered by id. */
  def dbscanClusters(points: DataFrame, idCol: String, xCol: Column,
                     yCol: Column, eps: Double, minPts: Int): DataFrame = {
    val pts = points.select(col(idCol).as("id"),
      xCol.cast("double").as("x"), yCol.cast("double").as("y"))
    val home = pts.select(col("id").as("id_b"), col("x").as("xb"), col("y").as("yb"),
      floor(col("x") / lit(eps)).cast("long").as("cx"),
      floor(col("y") / lit(eps)).cast("long").as("cy"))
    val offsets = array((-1 to 1).flatMap(dx => (-1 to 1).map(dy =>
      struct(lit(dx).as("dx"), lit(dy).as("dy")))): _*)
    val probe = pts.select(col("id").as("id_a"), col("x").as("xa"),
        col("y").as("ya"), explode(offsets).as("o"))
      .select(col("id_a"), col("xa"), col("ya"),
        (floor(col("xa") / lit(eps)).cast("long") + col("o.dx")).as("cx"),
        (floor(col("ya") / lit(eps)).cast("long") + col("o.dy")).as("cy"))
    // directed neighbor pairs (both orientations fall out of the probe fan)
    val nbr = probe.join(home, Seq("cx", "cy"))
      .filter(col("id_a") =!= col("id_b"))
      .filter((col("xa") - col("xb")) * (col("xa") - col("xb")) +
        (col("ya") - col("yb")) * (col("ya") - col("yb")) <=
        lit(eps) * lit(eps))
      .select("id_a", "id_b")
    val core = nbr.groupBy("id_a").agg(count(lit(1)).as("nn"))
      .filter(col("nn") + 1 >= minPts).select(col("id_a").as("id"))
    val coreEdges = nbr
      .join(core.select(col("id").as("id_a")), "id_a")
      .join(core.select(col("id").as("id_b")), "id_b")
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b")
    val cc = graft.operators.Dedup.connectedComponentsStar(coreEdges, "id_a", "id_b")
    // isolated core (dense neighborhood of pure border points) roots itself
    val coreLab = core
      .join(cc.select(col("node").as("id"), col("cluster_id")), Seq("id"), "left")
      .select(col("id"), coalesce(col("cluster_id"), col("id")).as("cluster_id"))
    val borderLab = nbr
      .join(coreLab.select(col("id").as("id_b"), col("cluster_id")), "id_b")
      .join(core.select(col("id").as("id_a")), Seq("id_a"), "left_anti")
      .groupBy(col("id_a").as("id")).agg(min("cluster_id").as("cluster_id"))
    pts.select("id")
      .join(coreLab.select(col("id"), col("cluster_id").as("core_cl")), Seq("id"), "left")
      .join(borderLab.select(col("id"), col("cluster_id").as("bord_cl")), Seq("id"), "left")
      .select(col("id"),
        when(col("core_cl").isNotNull, lit("core"))
          .when(col("bord_cl").isNotNull, lit("border"))
          .otherwise(lit("noise")).as("role"),
        coalesce(col("core_cl"), col("bord_cl")).as("cluster_id"))
      .orderBy("id")
  }

  /** Matryoshka/truncation fidelity audit (Kusupati et al. 2022 MRL —
    * "can we serve the first `dims` dimensions and keep retrieval?"):
    * for each query, the exact top-1 cosine neighbor under the FULL
    * vectors vs under the `dims`-prefix truncation, plus the agreement
    * flag — the retrieval-grade A/B that decides an embedding-compression
    * rollout, next to [[quantizationProfile]]'s PQ distortion read.
    *
    * Both sides reuse the [[bruteForceTopK]] scan (bounded per-partition
    * heaps, queries broadcast — two corpus scans total); the truncation
    * is a map-side `slice`. Ranks tie-break by neighbor id on equal
    * cosine (engine-stable), and the output carries IDS ONLY — the same
    * rank-not-value contract the q27 oracle uses, so no float ever
    * crosses engines. */
  def truncationFidelity(embeddings: DataFrame, idCol: String, vecCol: String,
                         queryIds: Seq[Long], dims: Int): DataFrame = {
    require(dims >= 1, "need at least one kept dimension")
    val full = bruteForceTopK(embeddings, idCol, vecCol, queryIds, k = 1)
      .select(col("query_id"), col("neighbor_id").as("full_top1"))
    val trunc = bruteForceTopK(
      embeddings.withColumn(vecCol, slice(col(vecCol), 1, dims)),
      idCol, vecCol, queryIds, k = 1)
      .select(col("query_id"), col("neighbor_id").as("trunc_top1"))
    full.join(trunc, "query_id")
      .select(col("query_id"), col("full_top1"), col("trunc_top1"),
        when(col("full_top1") === col("trunc_top1"), lit(1)).otherwise(lit(0))
          .as("agree"))
      .orderBy("query_id")
  }

  /** Local Outlier Factor (Breunig et al. 2000) — the DENSITY-RELATIVE
    * outlier score [[dbscanClusters]]' binary noise flag can't give: a
    * point 2× sparser than ITS OWN neighborhood scores ~2 even inside a
    * dense region where a global z-score ([[Analytics]] anomalies) or a
    * fixed eps (DBSCAN) sees nothing. LOF(p) = mean lrd(o∈kNN(p)) /
    * lrd(p), lrd = k / Σ reach, reach(p,o) = max(kdist(o), d(p,o)).
    *
    * Same eps-grid 3×3 cell probe as DBSCAN for the candidate pairs
    * (each pair found exactly once — the home side sits in one cell),
    * then one rank window per point for the kNN and three kNN-edge-sized
    * joins/aggregates (k·n rows, never n²). RADIUS CONTRACT: every
    * point's k nearest must lie within `radius` — points with truncated
    * neighborhoods (or whose neighbors have them) are dropped, so size
    * radius to the data's sparse tail; the interesting outliers must
    * stay INSIDE it to be scored.
    *
    * Exactness: distances are sqrt(dx²+dy²) mirrored double chains
    * (sqrt is IEEE-correctly-rounded — portable); reach and lrd terms
    * quantize DECIMAL(18,9) before every order-free sum; kNN rank
    * tie-breaks (dist, id). Top-N by (lof desc, id) via TakeOrdered. */
  def localOutlierFactor(points: DataFrame, idCol: String, xCol: Column,
                         yCol: Column, radius: Double, k: Int,
                         topN: Int = 20): DataFrame = {
    require(k >= 1 && radius > 0 && topN >= 1, "need k, radius, topN positive")
    val pts = points.select(col(idCol).as("id"),
      xCol.cast("double").as("x"), yCol.cast("double").as("y"))
    val home = pts.select(col("id").as("id_b"), col("x").as("xb"), col("y").as("yb"),
      floor(col("x") / lit(radius)).cast("long").as("cx"),
      floor(col("y") / lit(radius)).cast("long").as("cy"))
    val offsets = array((-1 to 1).flatMap(dx => (-1 to 1).map(dy =>
      struct(lit(dx).as("dx"), lit(dy).as("dy")))): _*)
    val probe = pts.select(col("id").as("id_a"), col("x").as("xa"),
        col("y").as("ya"), explode(offsets).as("o"))
      .select(col("id_a"), col("xa"), col("ya"),
        (floor(col("xa") / lit(radius)).cast("long") + col("o.dx")).as("cx"),
        (floor(col("ya") / lit(radius)).cast("long") + col("o.dy")).as("cy"))
    val pairs = probe.join(home, Seq("cx", "cy"))
      .filter(col("id_a") =!= col("id_b"))
      .withColumn("dist",
        sqrt((col("xa") - col("xb")) * (col("xa") - col("xb")) +
          (col("ya") - col("yb")) * (col("ya") - col("yb"))))
      .filter(col("dist") <= lit(radius))
      .select("id_a", "id_b", "dist")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("id_a").orderBy(col("dist"), col("id_b"))
    val knn = pairs.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .localCheckpoint() // three consumers: kdist, reach edges, lof numerator
    val kd = knn.groupBy("id_a").agg(count(lit(1)).as("nk"), max("dist").as("kdist"))
      .filter(col("nk") === k) // full neighborhoods only (radius contract)
      .localCheckpoint()       // two consumers: reach join + final kdist column
    val reach = knn
      .join(kd.select(col("id_a").as("id_b"), col("kdist").as("kd_o")), "id_b")
      .select(col("id_a"),
        greatest(col("kd_o"), col("dist")).cast("decimal(18,9)").as("reach"))
    val lrd = reach.groupBy("id_a")
      .agg(count(lit(1)).as("nr"), sum("reach").as("sr"))
      .filter(col("nr") === k) // every neighbor's own neighborhood was full too
      // zero reach-sum = the whole neighborhood sits at the IDENTICAL
      // coordinates (k+ exact duplicates): local density is undefined at
      // zero volume (Breunig §4's duplicate caveat), so such points drop
      // out of scoring like partial neighborhoods do — degenerate -> not
      // scoreable, never an ANSI DIVIDE_BY_ZERO (hit live on the sf1 full
      // pass, where replication plants 10 copies of every point)
      .filter(col("sr") > lit(0))
      .select(col("id_a"),
        (lit(k.toDouble) / col("sr").cast("double")).cast("decimal(18,9)").as("lrd"))
      .localCheckpoint() // two consumers: neighbor lrds + own lrd
    val lof = knn
      .join(lrd.select(col("id_a").as("id_b"), col("lrd").as("lrd_o")), "id_b")
      .groupBy("id_a").agg(count(lit(1)).as("nl"), sum("lrd_o").as("slrd"))
      .filter(col("nl") === k)
      .join(lrd, "id_a")
      .join(kd.select(col("id_a"), col("kdist")), "id_a")
      .select(col("id_a").as(idCol),
        col("kdist").cast("decimal(18,9)").cast("double").as("k_dist"),
        col("lrd").cast("double").as("lrd"),
        ((col("slrd").cast("double") / lit(k.toDouble)) / col("lrd").cast("double"))
          .cast("decimal(18,9)").cast("double").as("lof"))
    lof.orderBy(col("lof").desc, col(idCol)).limit(topN)
  }
}

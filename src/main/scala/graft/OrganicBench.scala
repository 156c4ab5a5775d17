package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Graph

/** Organic-growth datapoint for the iterative graph family (the round-8
  * ordered follow-up to BENCH_sf1.md): the sf1 decade-up ratios for
  * q240/q231/q139 were measured on a key-offset REPLICATION of sf0.1 where
  * dimensions stay 1× — every copy repeats the same part baskets, so
  * co-occurrence pair WEIGHTS multiply ×copies and the w≥2 support floor
  * admits pairs it would organically reject (q240 read 4.2×, the worst in
  * the table, with exactly this annotation attached).
  *
  * This main grows the workload ORGANICALLY instead. Baskets come from the
  * `synthdocs` DataSourceV2 (every row a pure function of row id — no
  * files, no replication artifact): each doc is a basket of `itemsPerBasket`
  * deterministic xxhash64 draws from an item universe that scales WITH the
  * corpus (TPC-H's own organic shape: sf10 has 10× parts as well as 10×
  * orders — mirrored here as U = baskets/7.5, the sf0.1 orders:parts
  * ratio). The q240/q231/q139 operator chain is reproduced verbatim from
  * SparkEntry (sorted distinct items → a<b pair explode → pair counts →
  * w≥2 floor → symmetrize where the query does) and timed at 1× and 10×,
  * twice each, min taken; kept-edge counts at both scales quantify the
  * densification directly.
  *
  * Usage: runMain graft.OrganicBench [baskets1x]  (default 150000 — the
  * sf0.1 orders count).
  */
object OrganicBench {
  private val ItemsPerBasket = 7

  /** The SparkEntry co-occurrence recipe over synthdocs baskets WITHOUT
    * the support floor: one map-side-combined shuffle to the basket's
    * sorted distinct item set, then the pair explode map-side — the raw
    * shape partCooccurrenceEdges feeds q133/q300 (dup pairs kept;
    * triangleCounts distincts internally, exactly as in production). */
  private[graft] def rawEdges(ss: SparkSession, baskets: Long): DataFrame = {
    val universe = math.max(100L, baskets * 2 / 15) // baskets / 7.5
    val docs = ss.read.format("synthdocs")
      .option("rows", baskets).option("partitions", 32).load()
    docs.select(col("doc_id"),
        explode(sequence(lit(1), lit(ItemsPerBasket))).as("j"))
      .select(col("doc_id").as("k"),
        pmod(xxhash64(col("doc_id"), col("j")), lit(universe)).as("item"))
      .groupBy("k")
      .agg(sort_array(collect_set(col("item"))).as("ps"))
      .select(posexplode(col("ps")).as(Seq("i", "pa")), col("ps"))
      .select(col("pa"),
        explode(slice(col("ps"), col("i") + lit(2), size(col("ps")))).as("pb"))
  }

  /** [[rawEdges]] under the w≥2 support floor — the q240/q231/q139 input. */
  private def supportedEdges(ss: SparkSession, baskets: Long): DataFrame =
    rawEdges(ss, baskets)
      .groupBy("pa", "pb").agg(count(lit(1)).as("w"))
      .filter(col("w") >= 2).select("pa", "pb")

  def main(args: Array[String]): Unit = {
    val baskets1x = args.headOption.map(_.toLong).getOrElse(150000L)
    val spark = Runs.builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    Runs.warm(spark)

    // the three iterative consumers, operator chains verbatim from SparkEntry
    val ops: Seq[(String, (SparkSession, Long) => DataFrame)] = Seq(
      "ppr" -> ((ss, n) => {
        val e = supportedEdges(ss, n)
        Graph.personalizedPageRank(
          e.unionAll(e.select(col("pb").as("pa"), col("pa").as("pb"))),
          "pa", "pb", Seq(1L, 2L))
      }),
      "eigencentrality" -> ((ss, n) =>
        Graph.eigenCentrality(supportedEdges(ss, n), "pa", "pb")),
      "label_prop" -> ((ss, n) =>
        Graph.labelPropagation(supportedEdges(ss, n), "pa", "pb")),
      // the one-shot link-prediction consumers of the same w>=2 graph
      // (q238 / q299): their sf1-replication ratios read 30x / 24x because
      // the floor admits ALL 1.2M raw pairs there (every weight x10) —
      // organic growth holds the kept-edge set ~constant instead
      "neighbor_jaccard" -> ((ss, n) =>
        Graph.neighborJaccard(supportedEdges(ss, n), "pa", "pb", minCommon = 1)),
      "adamic_adar" -> ((ss, n) =>
        Graph.adamicAdar(supportedEdges(ss, n), "pa", "pb")))

    val kept1 = supportedEdges(spark.newSession(), baskets1x).count()
    val kept10 = supportedEdges(spark.newSession(), baskets1x * 10).count()
    println(s"[organic] baskets ${baskets1x} -> ${baskets1x * 10} (10x), " +
      s"universe ${baskets1x * 2 / 15} -> ${baskets1x * 10 * 2 / 15}, " +
      s"kept w>=2 edges: $kept1 -> $kept10 " +
      f"(${kept10.toDouble / math.max(1, kept1)}%.2fx)")
    println("| operator | 1x s | 10x s | ratio |")
    println("|---|---|---|---|")
    ops.foreach { case (name, fn) =>
      def timed(n: Long): Double = Runs.timed(spark)(fn(_, n))
      val s1 = math.min(timed(baskets1x), timed(baskets1x))
      val s10 = math.min(timed(baskets1x * 10), timed(baskets1x * 10))
      println(f"| $name | $s1%.2f | $s10%.2f | ${s10 / s1}%.1f |")
    }
    spark.stop()
  }
}

/** Organic-growth datapoint for the RAW-graph one-shot family (the
  * round-10 verdict's item 4): q133 triangles (and q300 harmonic) consume
  * [[SparkEntry]]'s UNFLOORED part co-occurrence graph, so OrganicBench's
  * w≥2 evidence doesn't cover them — their sf1 story rested on key-offset
  * replication plus the degree-orientation bound. This main grows the raw
  * basket graph ORGANICALLY (the OrganicBench corpus shape verbatim:
  * synthdocs baskets of 7 xxhash64 items from a universe that scales with
  * the corpus, U = baskets/7.5 — TPC-H's own sf-growth shape) and records
  * the quantities the orientation bound is ABOUT:
  *   - edges m (distinct undirected), nodes n;
  *   - wedges W = Σ_u C(outdeg(u), 2) under the operator's own (deg, id)
  *     low→high orientation — the exact pre-Bloom closing-join input size
  *     (Suri–Vassilvitskii / Schank's bound: Σ min-deg, NOT Σ deg² — under
  *     organic growth per-item degree is ~constant, so W should scale ~m,
  *     not quadratically);
  *   - total triangles (closed wedges) and wall for the verbatim q133
  *     chain (Graph.triangleCounts), 1× and 10×, min of 2.
  *
  * Usage: runMain graft.OrganicTriangleBench [baskets1x]  (default 150000
  * — the sf0.1 orders count, so 1× matches q133's real workload scale).
  */
object OrganicTriangleBench {
  import OrganicBench.rawEdges

  /** (nodes, edges, wedges) under the operator's own orientation. */
  private def graphShape(ss: SparkSession, baskets: Long): (Long, Long, Long) = {
    val und = rawEdges(ss, baskets).select(
        least(col("pa"), col("pb")).as("a"), greatest(col("pa"), col("pb")).as("b"))
      .filter(col("a") =!= col("b")).distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val m = und.count()
    val deg = und.select(col("a").as("n")).unionAll(und.select(col("b").as("n")))
      .groupBy("n").agg(count(lit(1)).as("deg"))
    val nNodes = deg.count()
    val ranked = und
      .join(deg.select(col("n").as("a"), col("deg").as("deg_a")), "a")
      .join(deg.select(col("n").as("b"), col("deg").as("deg_b")), "b")
    val aIsLo = col("deg_a") < col("deg_b") ||
      (col("deg_a") === col("deg_b") && col("a") < col("b"))
    val wedges = ranked
      .select(when(aIsLo, col("a")).otherwise(col("b")).as("lo"))
      .groupBy("lo").agg(count(lit(1)).as("od"))
      // integer arithmetic throughout: `/ 2` would promote to double and
      // lose exactness on large wedge counts — od·(od−1) is always even
      .select(sum(col("od") * (col("od") - 1)).as("w2"))
      .collect()(0).getLong(0) / 2
    und.unpersist(false)
    (nNodes, m, wedges)
  }

  def main(args: Array[String]): Unit = {
    val baskets1x = args.headOption.map(_.toLong).getOrElse(150000L)
    val spark = Runs.builder()
      // same single-JVM-pause insurance as OrganicDedupBench's 1000× leg:
      // a full GC on a tens-of-GB heap can outlast the default heartbeat
      // window, and the HeartbeatReceiver then kills the local "executor"
      // mid-measurement; ride the pause out and charge it to the wall
      .config("spark.network.timeout", "600s")
      .config("spark.executor.heartbeatInterval", "30s")
      // triangleCounts sizes its wedge-pruning Bloom sketch at ~10
      // bits/edge, clamped by this conf (default 2^26 ≈ 6.7M edges); its
      // scaladoc says to raise the clamp past that — the 10× leg's raw
      // graph carries ~31M edges, where the default clamp's degraded fpp
      // floods the closing join. 2^30 bits = 128 MB, covering ~107M
      // edges; the 1× leg requests ~31M bits either way (no change).
      .config("spark.sql.optimizer.runtime.bloomFilter.maxNumBits",
        (1L << 30).toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    Runs.warm(spark)

    def timed(n: Long): Double =
      Runs.timed(spark)(ss => Graph.triangleCounts(rawEdges(ss, n), "pa", "pb"))
    def triangleTotal(n: Long): Long = {
      val ss = spark.newSession()
      val t = Graph.triangleCounts(rawEdges(ss, n), "pa", "pb")
        .select(sum(col("triangles")).as("t")).collect()(0).getLong(0)
      Runs.release(spark)
      System.gc()
      t / 3 // each triangle counted once per corner
    }

    Seq(baskets1x, baskets1x * 10).foreach { n =>
      val (nodes, m, w) = graphShape(spark.newSession(), n)
      val tri = triangleTotal(n)
      // same floor as rawEdges' universe — the bare n*2/15 would misreport
      // the corpus shape for tiny basket counts (<750)
      println(s"[organic-tri] baskets $n universe ${math.max(100L, n * 2 / 15)}: " +
        s"nodes $nodes, edges $m, oriented_wedges $w, triangles $tri " +
        f"(wedges/edge ${w.toDouble / math.max(1, m)}%.1f)")
    }
    println("| chain | 1x s | 10x s | ratio |")
    println("|---|---|---|---|")
    val s1 = math.min(timed(baskets1x), timed(baskets1x))
    val s10 = math.min(timed(baskets1x * 10), timed(baskets1x * 10))
    println(f"| q133_triangles | $s1%.2f | $s10%.2f | ${s10 / s1}%.1f |")
    spark.stop()
  }
}

/** Organic-growth datapoint for the MS-BFS family (q300 harmonic
  * centrality; q224 bounded BFS shares the hop shape): the last raw-graph
  * consumer whose scale story rested on sf1 key-offset replication.
  * [[Graph.harmonicCentrality]]'s cost model is per hop ONE join of the
  * symmetrized adjacency (2m rows) against the bit-mask frontier plus a
  * bit_or aggregate — Σ_hop |adjacency rows incident to the frontier|
  * ≤ 2m·maxHops, i.e. LINEAR in edges regardless of how the frontier
  * saturates (on a small-world graph it is node-sized by hop 2). Under
  * organic growth (the [[OrganicBench]] basket recipe verbatim:
  * 7-item baskets, universe = baskets/7.5) edges grow ~10× for 10×
  * baskets, so wall should read ~linear-in-m — the 100 TB feasibility
  * claim this bench measures. Reach accounting (Σ n_reached over the
  * 6-source / 3-hop run) is reported alongside so the two scales'
  * workloads are comparable as WORK, not just wall.
  *
  * Usage: runMain graft.OrganicHarmonicBench [baskets1x] (default 150000
  * — the sf0.1 orders count, so 1× matches q300's real workload scale).
  */
/** Organic-growth datapoint for the kNN-screen family (q183 label-noise /
  * q346 truncation-fidelity — round-11 verdict item 4): the last sf1 rows
  * resting purely on a replication annotation ("7.0× at sf1 — replication
  * densifies every neighborhood by its own copies": every key-offset copy
  * of a vector is its own exact nearest neighbor, so the kNN workload the
  * sf1 ratio measured is an artifact of HOW the corpus was replicated, not
  * of the operators). The operators' scale story is the EVAL-SET contract:
  * the query set is bounded (collect-and-broadcast), so cost is one corpus
  * scan × |eval| heap updates — linear in the corpus at fixed eval size.
  *
  * This main measures exactly that claim on an ORGANIC corpus: label-
  * clustered deterministic vectors (each row a pure function of its id —
  * vector = its TRUE label's centroid + per-id noise; 1-in-20 ids carry a
  * FLIPPED label while keeping their cluster geometry, so ~5% genuine
  * label noise exists to find at every scale and no neighborhood ever
  * contains a copy). Corpus grows 1× → 10× (2,000 → 20,000, the sf0.1
  * embeddings count as anchor) at a FIXED 2,000-query eval set; recorded:
  * wall (min of 2) + flagged count for the verbatim q183 chain
  * (bruteForceTopK candidates + the majority-vote tail), and wall + agree
  * count for the verbatim q346 chain (truncationFidelity, 8 queries,
  * 8-dim prefix). Done-criterion: wall tracks the corpus scan (~linear),
  * flagged stays ~the planted 5% rate — neighborhood density constant.
  *
  * Usage: runMain graft.OrganicKnnBench [n1x] (default 2000).
  */
object OrganicKnnBench {
  private val Dims = 64
  private val NLabels = 10

  /** Deterministic organic embeddings: (vec_id, embedding float[64], label).
    * u(h) maps a hash to uniform [-1, 1] at 1e-6 grain. */
  private[graft] def organicEmbeddings(ss: SparkSession, n: Long): DataFrame = {
    def u(h: org.apache.spark.sql.Column) =
      (pmod(h, lit(2000001L)) - lit(1000000L)).cast("double") / lit(1e6)
    ss.range(n).toDF("vec_id")
      .withColumn("t", pmod(xxhash64(col("vec_id"), lit("lbl")), lit(NLabels)))
      // 1-in-20 rows carry a wrong label but keep their t-cluster vector —
      // planted, findable label noise at a scale-invariant rate
      .withColumn("label",
        when(pmod(xxhash64(col("vec_id"), lit("flip")), lit(20)) === 0,
          pmod(col("t") + lit(1) +
            pmod(xxhash64(col("vec_id"), lit("fl2")), lit(NLabels - 1)),
            lit(NLabels)))
        .otherwise(col("t")).cast("int"))
      // dimension spectrum decays 0.8^j (real embedding spectra decay;
      // PCA-rotated or Matryoshka-trained ones front-load variance) — a
      // FLAT spectrum makes the q346 8-dim-prefix readout degenerate
      // (agree 0/8: the prefix can never pin top-1 when 7/8 of the
      // ranking energy lives behind it), which measures the synthetic
      // geometry, not the operator
      .withColumn("embedding",
        transform(sequence(lit(0), lit(Dims - 1)), j =>
          (pow(lit(0.8), j.cast("double")) *
            (u(xxhash64(col("t"), j, lit("c"))) +
              lit(0.5) * u(xxhash64(col("vec_id"), j, lit("n"))))).cast("float")))
      .select("vec_id", "embedding", "label")
  }

  /** The q183 tail verbatim (SparkEntry chain over bruteForceTopK
    * candidates): per-query neighbor-label majority vote, ties to the
    * smallest label, flag where it differs from the row's own label. */
  private def labelNoiseChain(ss: SparkSession, n: Long, evalIds: Seq[Long],
                              k: Int): DataFrame = {
    val emb = organicEmbeddings(ss, n)
    val nn = graft.operators.Similarity.bruteForceTopK(
      emb, "vec_id", "embedding", evalIds, k)
    val nbrLabels = emb.select(col("vec_id").as("neighbor_id"),
      col("label").cast("long").as("n_label"))
    val own = emb.select(col("vec_id"), col("label").cast("long").as("label"))
    nn.join(nbrLabels, "neighbor_id")
      .groupBy(col("query_id").as("vec_id"), col("n_label"))
      .agg(count(lit(1)).as("votes"))
      .groupBy("vec_id")
      .agg(max(struct(col("votes").as("v"), (-col("n_label")).as("negl"))).as("__m"))
      .select(col("vec_id"), (-col("__m.negl")).as("majority_label"),
        col("__m.v").as("votes"))
      .join(own, "vec_id")
      .select(col("vec_id"), col("label"), col("majority_label"),
        (col("majority_label") =!= col("label")).as("flagged"))
  }

  def main(args: Array[String]): Unit = {
    val n1x = args.headOption.map(_.toLong).getOrElse(2000L)
    // optional 2nd arg: comma-separated growth multipliers (default 1,10);
    // same anchor contract as OrganicHarmonicBench — the list must start
    // at the 1× leg every later readout is compared against
    val mults: Seq[Long] = args.drop(1).headOption
      .map(_.split(',').toSeq.map(_.trim.toLong)).getOrElse(Seq(1L, 10L))
    require(mults.headOption.contains(1L),
      s"multiplier list must start with 1 (the anchor); got ${mults.mkString(",")}")
    val evalIds: Seq[Long] = 0L until n1x // the FIXED eval set = the 1x ids
    val spark = Runs.builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    Runs.warm(spark)

    println("| chain | n | wall s (min of 2) | readout |")
    println("|---|---|---|---|")
    mults.map(n1x * _).foreach { n =>
      val w183 = math.min(
        Runs.timed(spark)(labelNoiseChain(_, n, evalIds, k = 5)),
        Runs.timed(spark)(labelNoiseChain(_, n, evalIds, k = 5)))
      val flagged = labelNoiseChain(spark.newSession(), n, evalIds, k = 5)
        .filter(col("flagged")).count()
      Runs.release(spark); System.gc()
      println(f"| q183_label_noise | $n | $w183%.2f | flagged $flagged of ${evalIds.size} |")
      def trunc(ss: SparkSession) = graft.operators.Similarity.truncationFidelity(
        organicEmbeddings(ss, n), "vec_id", "embedding",
        queryIds = Seq(0L, 1L, 2L, 3L, 4L, 5L, 6L, 7L), dims = 8)
      val w346 = math.min(Runs.timed(spark)(trunc), Runs.timed(spark)(trunc))
      val agree = trunc(spark.newSession())
        .agg(sum(col("agree")).as("a")).collect()(0).getLong(0)
      Runs.release(spark); System.gc()
      println(f"| q346_truncation_fidelity | $n | $w346%.2f | agree $agree of 8 |")
    }
    spark.stop()
  }
}

object OrganicHarmonicBench {
  def main(args: Array[String]): Unit = {
    val baskets1x = args.headOption.map(_.toLong).getOrElse(150000L)
    // optional 2nd arg: comma-separated growth multipliers (default the
    // recorded 1,10 ladder). "150000 1,100" runs the second-decade leg
    // with its 1× anchor; ≥100× legs time ONCE, not min-of-2 (a
    // minutes-long pass's second run measures page-cache luck, not the
    // operator — the OrganicDedupBench rule).
    val mults: Seq[Long] = args.drop(1).headOption
      .map(_.split(',').toSeq.map(_.trim.toLong)).getOrElse(Seq(1L, 10L))
    // every later leg reports as a ratio to the timed 1× anchor, and the
    // timed legs are mults.tail — a list not starting at 1 would silently
    // skip timing its first multiplier while still tabling a "1x" column
    // (round-12 advisory)
    require(mults.headOption.contains(1L),
      s"multiplier list must start with 1 (the timed anchor); got ${mults.mkString(",")}")
    val spark = Runs.builder()
      // same single-JVM-pause insurance as the other organic rigs
      .config("spark.network.timeout", "600s")
      .config("spark.executor.heartbeatInterval", "30s")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    Runs.warm(spark)

    val sources = Seq(1L, 2L, 3L, 4L, 5L, 6L) // q300's pinned sample
    def harmonic(ss: SparkSession, n: Long) =
      Graph.harmonicCentrality(
        OrganicBench.rawEdges(ss, n), "pa", "pb", sources, maxHops = 3)

    def timed(n: Long): Double = Runs.timed(spark)(harmonic(_, n))

    mults.foreach { m =>
      val n = baskets1x * m
      val ss = spark.newSession()
      val und = OrganicBench.rawEdges(ss, n).select(
          least(col("pa"), col("pb")).as("a"), greatest(col("pa"), col("pb")).as("b"))
        .filter(col("a") =!= col("b")).distinct()
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val edges = und.count()
      val nodes = und.select(col("a").as("n")).unionAll(und.select(col("b").as("n")))
        .distinct().count()
      und.unpersist(false)
      val reach = harmonic(ss, n)
        .agg(sum(col("n_reached")).as("r"), count(lit(1)).as("k"))
        .collect()(0)
      Runs.release(spark); System.gc()
      println(s"[organic-bfs] baskets $n: nodes $nodes, edges $edges, " +
        s"reached_nodes ${reach.getLong(1)}, src_node_pairs ${reach.getLong(0)} " +
        s"(sources ${sources.size}, hops 3)")
    }
    val header = mults.tail.flatMap(m => Seq(s"${m}x s", s"${m}x/1x"))
    println(("| chain | 1x s" +: header).mkString("", " | ", " |"))
    println("|---" * (2 + header.size) + "|")
    val s1 = math.min(timed(baskets1x), timed(baskets1x))
    val cells = mults.tail.flatMap { m =>
      val t = if (m >= 100) timed(baskets1x * m)
              else math.min(timed(baskets1x * m), timed(baskets1x * m))
      Seq(f"$t%.2f", f"${t / s1}%.1f")
    }
    println((f"| q300_harmonic | $s1%.2f" +: cells).mkString("", " | ", " |"))
    spark.stop()
  }
}

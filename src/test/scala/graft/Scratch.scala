package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Throwaway stage-decomposition rig for the optimization round: times the
  * internal stages of one heavy query so the optimization targets the stage
  * that actually costs. Not part of the bench contract. */
object Scratch {
  def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  def t(label: String)(f: => Unit): Unit = {
    val t0 = System.nanoTime()
    f
    println(f"[scratch] $label ${(System.nanoTime() - t0) / 1e9}%.2f s")
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val what = if (args.length > 1) args(1) else "q133"
    val spark = Runs.builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    Runs.warm(spark)

    what match {
      case "q133" => q133(spark, sfDir)
      case "q133f" => q133f(spark, sfDir)
      case "q343" => q343(spark, sfDir)
      case "ccab" => ccab(spark, sfDir)
      case "tail13" => tail13(spark, sfDir)
      case "pr13" => pr13(spark, sfDir)
      case "plans13" => plans13(spark, sfDir)
      case "q126ab" => q126ab(spark, sfDir)
      case "wedge" => wedge(spark, sfDir)
      case "q223" => q223(spark, sfDir)
      case "q126" => q126(spark, sfDir)
      case "kde" => kde(spark, sfDir)
      case "q110" => q110(spark, sfDir)
      case "plans" => plans(spark, sfDir)
      case "q204" => q204(spark, sfDir)
      case other => println(s"unknown: $other")
    }
    spark.stop()
  }

  def planStr(df: DataFrame): String =
    df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))

  def writePlan(path: String, header: String, df: DataFrame): Unit =
    java.nio.file.Files.write(java.nio.file.Paths.get(path),
      (header + "\n\n" + planStr(df)).getBytes("UTF-8"))

  /** Regenerates before/after plan evidence for the pipelines whose final
    * eager localCheckpoint hides the real plan from a plain Explain run
    * (the *_before.txt stubs showed only `Scan ExistingRDD`). For each
    * changed operator the OLD formulation is reconstructed verbatim from
    * the pre-change tree and explained over the SAME sf0.1 inputs the
    * query uses; the NEW side explains the formulation now in the
    * operator. Loop bodies (CC rounds, BFS hops) are explained as one
    * representative round — the plan shape is identical every round. */
  def plans(spark: SparkSession, d: String): Unit = {
    val dir = "plans/r12"

    // ---- q133 triangles: wedge enumeration old (self-join) vs new (adjacency explode)
    locally {
      val edges = coEdges(spark, d)
      val und = edges.select(
          least(col("pa"), col("pb")).as("a"), greatest(col("pa"), col("pb")).as("b"))
        .filter(col("a") =!= col("b")).distinct()
      val deg = und.select(col("a").as("n")).unionAll(und.select(col("b").as("n")))
        .groupBy("n").agg(count(lit(1)).as("deg"))
      val ranked = und
        .join(deg.select(col("n").as("a"), col("deg").as("deg_a")), "a")
        .join(deg.select(col("n").as("b"), col("deg").as("deg_b")), "b")
      val aIsLo = col("deg_a") < col("deg_b") ||
        (col("deg_a") === col("deg_b") && col("a") < col("b"))
      val oriented = ranked.select(
          when(aIsLo, col("a")).otherwise(col("b")).as("lo"),
          when(aIsLo, col("b")).otherwise(col("a")).as("hi"),
          when(aIsLo, col("deg_b")).otherwise(col("deg_a")).as("deg_hi"))
      val x = oriented.select(col("lo").as("u"), col("hi").as("v"), col("deg_hi").as("dv"))
      val y = oriented.select(col("lo").as("u"), col("hi").as("w"), col("deg_hi").as("dw"))
      val wedgesOld = x.join(y, "u")
        .filter(col("dv") < col("dw") || (col("dv") === col("dw") && col("v") < col("w")))
        .select("u", "v", "w")
      val wedgesNew = oriented
        .groupBy(col("lo").as("u"))
        .agg(sort_array(collect_list(struct(col("deg_hi").as("d"), col("hi").as("t")))).as("ns"))
        .select(col("u"), posexplode(col("ns")).as(Seq("i", "vs")), col("ns"))
        .select(col("u"), col("vs.t").as("v"),
          explode(slice(col("ns"), col("i") + lit(2), size(col("ns")))).as("ws"))
        .select(col("u"), col("v"), col("ws.t").as("w"))
      writePlan(s"$dir/q133_triangles_before.txt",
        "q133_triangles — WEDGE-ENUMERATION stage, PRE-change formulation\n" +
        "(x self-join y on apex + half-discarding canonical filter; the full\n" +
        "query's final plan is checkpoint-hidden, so the changed stage is\n" +
        "explained directly over the real sf0.1 co-occurrence pipeline).\n" +
        "Note the TWO exchanges over the oriented edge list feeding the join.",
        wedgesOld)
      writePlan(s"$dir/q133_triangles_after.txt",
        "q133_triangles — WEDGE-ENUMERATION stage, POST-change formulation\n" +
        "(sorted-adjacency slice-explode: ONE node-keyed aggregate; each i<j\n" +
        "pair emitted exactly once — no self-join, half the enumerated pairs).",
        wedgesNew)
    }

    // ---- CC star round body: old (agg + join + distinct + join/union) vs new (two agg+explode)
    locally {
      val documents = Tables.load(spark, d, "documents")
      // q87's real input shape: chain pairs from the star-CC query is
      // internal; a representative canonical big→small edge list suffices
      val pairs = documents.select((col("doc_id") + 1).as("u"), col("doc_id").as("v"))
      val edges = pairs.where(col("u") =!= col("v")).distinct()
      val sym = edges.unionAll(edges.select(col("v").as("u"), col("u").as("v")))
      // OLD round body
      val minsO = sym.groupBy("u").agg(min("v").as("mn"))
        .select(col("u"), least(col("u"), col("mn")).as("m"))
      val largeO = sym.join(minsO, "u").where(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))
        .where(col("u") =!= col("v")).distinct()
      val sminsO = largeO.groupBy("u").agg(min("v").as("m"))
      val nextO = largeO.join(sminsO, "u").select(col("v").as("u"), col("m").as("v"))
        .unionAll(sminsO.select(col("u"), col("m").as("v")))
        .where(col("u") =!= col("v")).distinct()
      // NEW round body
      val largeN = sym.groupBy("u")
        .agg(least(col("u"), min(col("v"))).as("m"),
          collect_set(when(col("v") > col("u"), col("v"))).as("big"))
        .select(explode(col("big")).as("u"), col("m").as("v"))
      val nextN = largeN.groupBy("u")
        .agg(min(col("v")).as("m"), collect_set(col("v")).as("vs"))
        .select(explode(concat(col("vs"), array(col("u")))).as("u2"), col("m"))
        .where(col("u2") =!= col("m"))
        .select(col("u2").as("u"), col("m").as("v"))
        .distinct()
      writePlan(s"$dir/cc_star_round_before.txt",
        "connectedComponentsStar (q87/q113/q179/q210/q343) — ONE large+small\n" +
        "star round, PRE-change formulation (aggregate + join + standalone\n" +
        "distinct per star pass, then join + union + distinct; convergence\n" +
        "paid TWO further exceptAll passes per round, not shown in the plan).",
        nextO)
      writePlan(s"$dir/cc_star_round_after.txt",
        "connectedComponentsStar — ONE large+small star round, POST-change\n" +
        "(each star pass is one grouped aggregate + set explode; convergence\n" +
        "is a cardinality check + one anti-join, short-circuited while the\n" +
        "edge count still changes).",
        nextN)
    }

    // ---- harmonic hop body: old (left join + separate state full-outer) vs new (one full-outer)
    locally {
      val edges = coEdges(spark, d)
      val und = edges.select(
          least(col("pa"), col("pb")).as("a"), greatest(col("pa"), col("pb")).as("b"))
        .filter(col("a") =!= col("b")).distinct()
      val nbrs = und.unionAll(und.select(col("b").as("a"), col("a").as("b")))
      import spark.implicits._
      val state0 = Seq(1L, 2L, 3L, 4L, 5L, 6L).zipWithIndex
        .map { case (s, i) => (s, 1L << i) }.toDF("node", "vis")
      val frontier0 = state0.select(col("node"), col("vis").as("fresh"))
      val cand = nbrs.join(frontier0, nbrs("a") === frontier0("node"))
        .groupBy(col("b").as("node")).agg(expr("bit_or(fresh)").as("cand"))
      val freshOld = cand.join(state0, Seq("node"), "left")
        .select(col("node"), coalesce(col("vis"), lit(0L)).as("vis"), col("cand"))
        .withColumn("fresh", expr("cand & ~vis"))
        .filter(col("fresh") =!= 0)
        .select("node", "fresh", "vis")
      val stateOldNext = state0.join(freshOld.select(col("node"), col("fresh")), Seq("node"), "full_outer")
        .select(col("node"),
          (coalesce(col("vis"), lit(0L)).bitwiseOR(coalesce(col("fresh"), lit(0L)))).as("vis"))
      val state0N = state0.withColumnRenamed("vis", "fresh").withColumn("vis", col("fresh"))
      val stateNewNext = state0N.join(cand, Seq("node"), "full_outer")
        .select(col("node"),
          expr("coalesce(cand, 0L) & ~coalesce(vis, 0L)").as("fresh"),
          (coalesce(col("vis"), lit(0L)).bitwiseOR(coalesce(col("cand"), lit(0L)))).as("vis"))
      writePlan(s"$dir/q300_harmonic_before.txt",
        "q300_harmonic — ONE MS-BFS hop, PRE-change: the hop materialized TWO\n" +
        "eager checkpoints (fresh tier via a left join, then the state merge\n" +
        "via a second, full-outer join). Both sub-plans shown: fresh, then state.\n\n" +
        "---- fresh tier ----\n" + planStr(freshOld) + "\n---- state merge ----",
        stateOldNext)
      writePlan(s"$dir/q300_harmonic_after.txt",
        "q300_harmonic — ONE MS-BFS hop, POST-change: the fresh-mask and the\n" +
        "vis-merge fold into ONE full-outer join and ONE eager checkpoint;\n" +
        "hop records and the next frontier are lazy filters over its blocks.",
        stateNewNext)
    }

    // ---- q361: old global-sort + row-number path vs new bracketing input
    locally {
      val li = Tables.load(spark, d, "lineitem")
      def daily(f: String) = li.filter(col("l_returnflag") === f)
        .groupBy(to_date(col("l_shipdate")).as("day"))
        .agg(sum(round(col("l_extendedprice") * lit(100d)).cast("long")).as("cents"))
      val av = daily("A").select(col("cents").cast("long").as("va")).filter(col("va").isNotNull)
      val bv = daily("R").select(col("cents").cast("long").as("vb")).filter(col("vb").isNotNull)
      val diffs = av.crossJoin(broadcast(bv)).select((col("va") - col("vb")).as("d"))
      val sortedOld = diffs.sort(col("d"))
      writePlan(s"$dir/q361_hl_shift_before.txt",
        "q361_hl_shift — PRE-change: the 6.2M pairwise diffs were globally\n" +
        "RANGE-SORTED (this plan), eagerly checkpointed, then rebuilt row by\n" +
        "row through TWO non-codegen RDD passes (partition counts collect +\n" +
        "Row.fromSeq re-emit) before the two middle ranks were filtered out.",
        sortedOld)
      writePlan(s"$dir/q361_hl_shift_after.txt",
        "q361_hl_shift — POST-change: the SAME diff frame (this plan, now\n" +
        "persisted) feeds exactGlobalMedian's multi-pass histogram bracketing\n" +
        "— map-side bin aggregates over the cached blocks, no global sort, no\n" +
        "Row-object rebuild; the two middle order statistics come from a\n" +
        "≤100k-row sliver. Identical .0/.5 rational, decimal(18,4)-quantized.",
        diffs)
    }
    // ---- q126: prefix + verification stages old vs new
    locally {
      import org.apache.spark.sql.expressions.Window
      import spark.implicits._
      val documents = Tables.load(spark, d, "documents")
      val base = documents.select(col("doc_id"), col("text"))
      val dups = documents.filter(col("doc_id") < 20)
        .select((col("doc_id") + 1000000).as("doc_id"),
          concat(col("text"), lit(" near dup tail")).as("text"))
      val docs = base.unionAll(dups)
      val threshold = 0.5
      val sh = docs.select(col("doc_id").cast("long"), col("text"))
        .as[(Long, String)]
        .flatMap { case (id, t) =>
          graft.operators.Dedup.shingles(Option(t).getOrElse(""), 3).distinct.map(h => (id, h)) }
        .toDF("doc_id", "h")
      val freq = sh.groupBy("h").agg(count(lit(1)).as("df"))
      val wSize = Window.partitionBy("doc_id")
      val wOrder = Window.partitionBy("doc_id").orderBy(col("df"), col("h"))
      val prefixOld = sh.join(freq, Seq("h"))
        .withColumn("set_size", count(lit(1)).over(wSize))
        .withColumn("pos", row_number().over(wOrder))
        .filter(col("pos") <=
          col("set_size") - ceil(col("set_size") * threshold) + 1)
        .select(col("doc_id"), col("h"), col("set_size"))
      val prefixNew = sh.join(freq, Seq("h"))
        .groupBy("doc_id")
        .agg(sort_array(collect_list(struct(col("df"), col("h")))).as("fs"))
        .select(col("doc_id"), size(col("fs")).cast("long").as("set_size"),
          explode(slice(col("fs"), lit(1),
            greatest((size(col("fs")) - ceil(size(col("fs")) * threshold) + 1).cast("int"),
              lit(0)))).as("e"))
        .select(col("doc_id"), col("e.h").as("h"), col("set_size"))
      def candsOf(prefix: DataFrame) = prefix.toDF("id_a", "h", "size_a")
        .join(prefix.toDF("id_b", "h", "size_b"), Seq("h"))
        .filter(col("id_a") < col("id_b") &&
          col("size_a") * threshold <= col("size_b") &&
          col("size_b") * threshold <= col("size_a"))
        .select("id_a", "id_b", "size_a", "size_b")
        .distinct()
      val verifyOld = candsOf(prefixOld)
        .join(sh.toDF("id_a", "h"), Seq("id_a"))
        .join(sh.toDF("id_b", "h"), Seq("id_b", "h"))
        .groupBy("id_a", "id_b", "size_a", "size_b")
        .agg(count(lit(1)).as("inter"))
        .select(col("id_a").as("doc_id_a"), col("id_b").as("doc_id_b"),
          (col("inter").cast("double") /
            (col("size_a") + col("size_b") - col("inter"))).as("jaccard"))
        .filter(col("jaccard") >= threshold)
        .orderBy("doc_id_a", "doc_id_b")
      val sets = sh.groupBy("doc_id").agg(collect_list("h").as("hs"))
      val verifyNew = candsOf(prefixNew)
        .join(sets.select(col("doc_id").as("id_a"), col("hs").as("hs_a")), Seq("id_a"))
        .join(sets.select(col("doc_id").as("id_b"), col("hs").as("hs_b")), Seq("id_b"))
        .select(col("id_a"), col("id_b"), col("size_a"), col("size_b"),
          size(array_intersect(col("hs_a"), col("hs_b"))).as("inter"))
        .filter(col("inter") >= 1)
        .select(col("id_a").as("doc_id_a"), col("id_b").as("doc_id_b"),
          (col("inter").cast("double") /
            (col("size_a") + col("size_b") - col("inter"))).as("jaccard"))
        .filter(col("jaccard") >= threshold)
        .orderBy("doc_id_a", "doc_id_b")
      writePlan(s"$dir/q126_setsim_join_before.txt",
        "q126_setsim_join — full pre-checkpoint pipeline, PRE-change: prefix\n" +
        "rank via TWO windows over (doc_id) incl. a full (doc_id, df, h) sort,\n" +
        "and verification re-exploding each candidate against its whole\n" +
        "shingle list through an equi-join + 4-key hash aggregate.",
        verifyOld)
      writePlan(s"$dir/q126_setsim_join_after.txt",
        "q126_setsim_join — POST-change: prefix rank via ONE grouped\n" +
        "sort_array + slice-explode; verification via per-candidate\n" +
        "array_intersect over collected shingle sets (no window sort, no\n" +
        "candidate×set-size row explosion, no 4-key aggregate).",
        verifyNew)
    }

    // ---- q224 bfs hop body old vs new
    locally {
      import spark.implicits._
      val edges = coEdges(spark, d)
      val und = edges.select(
          least(col("pa"), col("pb")).as("a"), greatest(col("pa"), col("pb")).as("b"))
        .filter(col("a") =!= col("b")).distinct()
      val nbrs = und.unionAll(und.select(col("b").as("a"), col("a").as("b")))
      val visited0 = Seq(1L, 2L).toDF("node").withColumn("dist", lit(0))
      val frontier0 = visited0.select("node")
      val nextOld = nbrs.join(frontier0, nbrs("a") === frontier0("node"))
        .select(col("b").as("node")).distinct()
        .join(visited0.select(col("node").as("v")), col("node") === col("v"), "left_anti")
        .withColumn("dist", lit(1))
      val visitedOldNext = visited0.unionAll(nextOld)
      val state0 = visited0.withColumn("fresh", lit(true))
      val cand = nbrs.join(state0.filter(col("fresh")).select("node"),
          nbrs("a") === col("node"))
        .select(col("b").as("node")).distinct()
        .withColumn("c", lit(true))
      val stateNewNext = state0.join(cand, Seq("node"), "full_outer")
        .select(col("node"),
          coalesce(col("dist"), lit(1)).as("dist"),
          (col("dist").isNull && col("c").isNotNull).as("fresh"))
      writePlan(s"$dir/q224_bfs_distance_before.txt",
        "q224_bfs_distance — ONE hop, PRE-change: the new tier (anti-join vs\n" +
        "visited) and the visited union were each eagerly checkpointed — two\n" +
        "materialized frames per hop.",
        visitedOldNext)
      writePlan(s"$dir/q224_bfs_distance_after.txt",
        "q224_bfs_distance — ONE hop, POST-change: candidate attach, tier\n" +
        "assignment and visited-merge fold into ONE full-outer join and ONE\n" +
        "eager checkpoint; the frontier is a lazy filter over its blocks.",
        stateNewNext)
    }
    println("[scratch] plans written")
  }

  def q204(spark: SparkSession, d: String): Unit = {
    val corpus = Tables.load(spark, d, "documents").select(col("doc_id"), col("text"))
    val newBatch = Tables.load(spark, d, "documents").filter(col("doc_id") < 20)
      .select((col("doc_id") + 1000000).as("doc_id"),
        concat(col("text"), lit(" planted near duplicate tail")).as("text"))
      .unionAll(Tables.load(spark, d, "documents").filter(col("doc_id") >= 480)
        .select((col("doc_id") + 1500000).as("doc_id"), col("text")))
    var index: org.apache.spark.sql.DataFrame = null
    t("index build") {
      index = graft.operators.Dedup.minhashBandIndex(corpus, "doc_id", "text")
      noop(index)
    }
    var cands: org.apache.spark.sql.DataFrame = null
    t("probe") {
      cands = graft.operators.Dedup.minhashCandidatesAgainstIndex(newBatch, "doc_id",
        "text", index)
      noop(cands)
    }
    t("ngramJaccard") {
      noop(graft.operators.Dedup.ngramJaccard(corpus.unionAll(newBatch), "doc_id", "text",
        cands, threshold = 0.5))
    }
  }

  /** Round-13 q133 fine decomposition: where the heavy closing stage goes,
    * and A/B of the closing-join strategy + deg shape, all in one JVM. */
  def q133f(spark: SparkSession, d: String): Unit = {
    val edges = coEdges(spark, d)
    val und = edges.select(
        least(col("pa"), col("pb")).as("a"), greatest(col("pa"), col("pb")).as("b"))
      .filter(col("a") =!= col("b")).distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    noop(und)
    val m = und.count()
    for (r <- 1 to 2) {
      t(s"deg union-scan r$r") {
        noop(und.select(col("a").as("n")).unionAll(und.select(col("b").as("n")))
          .groupBy("n").agg(count(lit(1)).as("deg")))
      }
      t(s"deg explode-scan r$r") {
        noop(und.select(explode(array(col("a"), col("b"))).as("n"))
          .groupBy("n").agg(count(lit(1)).as("deg")))
      }
    }
    val deg = und.select(col("a").as("n")).unionAll(und.select(col("b").as("n")))
      .groupBy("n").agg(count(lit(1)).as("deg"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    noop(deg)
    val ranked = und
      .join(deg.select(col("n").as("a"), col("deg").as("deg_a")), "a")
      .join(deg.select(col("n").as("b"), col("deg").as("deg_b")), "b")
    val aIsLo = col("deg_a") < col("deg_b") ||
      (col("deg_a") === col("deg_b") && col("a") < col("b"))
    val oriented = ranked.select(
        when(aIsLo, col("a")).otherwise(col("b")).as("lo"),
        when(aIsLo, col("b")).otherwise(col("a")).as("hi"),
        when(aIsLo, col("deg_b")).otherwise(col("deg_a")).as("deg_hi"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    noop(oriented)
    val sketch = oriented
      .select(graft.functions.Native.bloomFilterAgg(
        xxhash64(col("lo"), col("hi")), math.max(m, 1L),
        math.min(10L * m + 64L, 1L << 26)).as("bf"))
      .head().getAs[Array[Byte]]("bf")
    def wedges = oriented
      .groupBy(col("lo").as("u"))
      .agg(sort_array(collect_list(struct(col("deg_hi").as("d"), col("hi").as("t")))).as("ns"))
      .select(col("u"), posexplode(col("ns")).as(Seq("i", "vs")), col("ns"))
      .select(col("u"), col("vs.t").as("v"),
        explode(slice(col("ns"), col("i") + lit(2), size(col("ns")))).as("ws"))
      .select(col("u"), col("v"), col("ws.t").as("w"))
    def pruned = wedges.filter(graft.functions.Native.bloomMightContain(
      lit(sketch), xxhash64(col("v"), col("w"))))
    def perNode(tri: DataFrame) = tri
      .select(explode(array(col("u"), col("v"), col("w"))).as("n"))
      .groupBy("n").agg(count(lit(1)).as("triangles"))
    for (r <- 1 to 2) {
      t(s"wedges gen only r$r") { noop(wedges) }
      t(s"wedges+probe r$r") { noop(pruned) }
      t(s"close SMJ-default r$r") {
        noop(perNode(pruned.join(
          oriented.select(col("lo").as("v"), col("hi").as("w")), Seq("v", "w"))))
      }
      t(s"close SHUFFLE_HASH r$r") {
        noop(perNode(pruned.join(
          oriented.select(col("lo").as("v"), col("hi").as("w")).hint("SHUFFLE_HASH"),
          Seq("v", "w"))))
      }
    }
  }

  /** partCooccurrenceEdges copy (private in SparkEntry). */
  def coEdges(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .groupBy(col("l_orderkey").as("k"))
      .agg(sort_array(collect_set(col("l_partkey"))).as("ps"))
      .select(posexplode(col("ps")).as(Seq("i", "pa")), col("ps"))
      .select(col("pa"),
        explode(slice(col("ps"), col("i") + lit(2), size(col("ps")))).as("pb"))

  def q133(spark: SparkSession, d: String): Unit = {
    val edges = coEdges(spark, d)
    t("edges-raw noop") { noop(edges) }
    val und = edges.select(
        least(col("pa"), col("pb")).as("a"), greatest(col("pa"), col("pb")).as("b"))
      .filter(col("a") =!= col("b")).distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    t("und distinct+persist") { noop(und) }
    println("und rows " + und.count())
    val deg = und.select(col("a").as("n")).unionAll(und.select(col("b").as("n")))
      .groupBy("n").agg(count(lit(1)).as("deg"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    t("deg") { noop(deg) }
    val ranked = und
      .join(deg.select(col("n").as("a"), col("deg").as("deg_a")), "a")
      .join(deg.select(col("n").as("b"), col("deg").as("deg_b")), "b")
    val aIsLo = col("deg_a") < col("deg_b") ||
      (col("deg_a") === col("deg_b") && col("a") < col("b"))
    val oriented = ranked.select(
        when(aIsLo, col("a")).otherwise(col("b")).as("lo"),
        when(aIsLo, col("b")).otherwise(col("a")).as("hi"),
        when(aIsLo, col("deg_b")).otherwise(col("deg_a")).as("deg_hi"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    t("oriented") { noop(oriented) }
    val x = oriented.select(col("lo").as("u"), col("hi").as("v"), col("deg_hi").as("dv"))
    val y = oriented.select(col("lo").as("u"), col("hi").as("w"), col("deg_hi").as("dw"))
    val wedges = x.join(y, "u")
      .filter(col("dv") < col("dw") || (col("dv") === col("dw") && col("v") < col("w")))
    println("wedge rows " + wedges.count())
    var m = 0L
    t("und.count") { m = und.count() }
    var sketch: Array[Byte] = null
    t("bloom build") {
      sketch = oriented
        .select(graft.functions.Native.bloomFilterAgg(
          xxhash64(col("lo"), col("hi")), math.max(m, 1L),
          math.min(10L * m + 64L, 1L << 26)).as("bf"))
        .head().getAs[Array[Byte]]("bf")
    }
    val pruned = wedges.filter(graft.functions.Native.bloomMightContain(
      lit(sketch), xxhash64(col("v"), col("w"))))
    println("pruned wedge rows " + pruned.count())
    val tri = pruned.join(oriented.select(col("lo").as("v"), col("hi").as("w")), Seq("v", "w"))
    println("tri rows " + tri.count())
    val triPerNode = tri
      .select(explode(array(col("u"), col("v"), col("w"))).as("n"))
      .groupBy("n").agg(count(lit(1)).as("triangles"))
    t("triPerNode + final") {
      val out = deg.join(triPerNode, Seq("n"), "left")
        .select(col("n").as("node"), col("deg"),
          coalesce(col("triangles"), lit(0L)).as("triangles"),
          when(col("deg") >= 2,
            (coalesce(col("triangles"), lit(0L)) * 2).cast("double") /
              (col("deg") * (col("deg") - 1)))
            .otherwise(lit(0.0)).as("clustering"))
        .orderBy("node")
      noop(out)
    }
  }

  def wedge(spark: SparkSession, d: String): Unit = {
    val edges = coEdges(spark, d)
    val und = edges.select(
        least(col("pa"), col("pb")).as("a"), greatest(col("pa"), col("pb")).as("b"))
      .filter(col("a") =!= col("b")).distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val deg = und.select(col("a").as("n")).unionAll(und.select(col("b").as("n")))
      .groupBy("n").agg(count(lit(1)).as("deg"))
    val ranked = und
      .join(deg.select(col("n").as("a"), col("deg").as("deg_a")), "a")
      .join(deg.select(col("n").as("b"), col("deg").as("deg_b")), "b")
    val aIsLo = col("deg_a") < col("deg_b") ||
      (col("deg_a") === col("deg_b") && col("a") < col("b"))
    val oriented = ranked.select(
        when(aIsLo, col("a")).otherwise(col("b")).as("lo"),
        when(aIsLo, col("b")).otherwise(col("a")).as("hi"),
        when(aIsLo, col("deg_b")).otherwise(col("deg_a")).as("deg_hi"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    noop(oriented)
    val x = oriented.select(col("lo").as("u"), col("hi").as("v"), col("deg_hi").as("dv"))
    val y = oriented.select(col("lo").as("u"), col("hi").as("w"), col("deg_hi").as("dw"))
    def agg(df: org.apache.spark.sql.DataFrame) =
      df.groupBy("u").agg(count(lit(1)).as("c")).agg(sum("c"), count(lit(1)))
    for (r <- 1 to 3) {
      t(s"join-wedges r$r") {
        noop(agg(x.join(y, "u")
          .filter(col("dv") < col("dw") || (col("dv") === col("dw") && col("v") < col("w")))
          .select("u", "v", "w")))
      }
      t(s"adj-wedges r$r") {
        noop(agg(oriented
          .groupBy(col("lo").as("u"))
          .agg(sort_array(collect_list(struct(col("deg_hi").as("d"), col("hi").as("t")))).as("ns"))
          .select(col("u"), posexplode(col("ns")).as(Seq("i", "vs")), col("ns"))
          .select(col("u"), col("vs.t").as("v"),
            explode(slice(col("ns"), col("i") + lit(2), size(col("ns")))).as("ws"))
          .select(col("u"), col("v"), col("ws.t").as("w"))))
      }
    }
  }

  def q223(spark: SparkSession, d: String): Unit = {
    val embeddings = Tables.embeddings(spark, d)
    val vecCol = "embedding"; val idCol = "vec_id"
    t("take1") { embeddings.select(size(col(vecCol)).as("d")).take(1) }
    val dd = 64
    for (r <- 1 to 2) {
      t(s"moments r$r") {
        embeddings.select(explode(flatten(concat(
            array(array(struct(lit(-1).as("i"), lit(-1).as("j"), lit(1L).as("t")))),
            transform(sequence(lit(0), lit(dd - 1)), i => concat(
              array(struct(i.as("i"), lit(-1).as("j"),
                round(element_at(col(vecCol), i + lit(1)).cast("double") * lit(1e9d))
                  .cast("long").as("t"))),
              transform(sequence(i, lit(dd - 1)), j =>
                struct(i.as("i"), j.as("j"),
                  round(element_at(col(vecCol), i + lit(1)).cast("double") *
                    element_at(col(vecCol), j + lit(1)).cast("double") * lit(1e9d))
                    .cast("long").as("t")))))))).as("e"))
          .groupBy(col("e.i").as("i"), col("e.j").as("j"))
          .agg(sum(col("e.t")).cast("decimal(38,0)").as("s"))
          .collect()
      }
      t(s"projection r$r") {
        val ex = embeddings.select(col(idCol).cast("long").as("id"),
          posexplode(transform(col(vecCol), x => x.cast("double"))).as(Seq("i", "x")))
        val muLit = array((0 until dd).map(i => lit(0.5)): _*)
        val vLit = array((0 until dd).map(i => lit(123456.0)): _*)
        val pc1 = (sum(round((col("x") - element_at(muLit, col("i") + 1)) *
          element_at(vLit, col("i") + 1)).cast("long")).cast("double") / lit(1e6d)).as("pc1")
        val pc2 = (sum(round((col("x") - element_at(muLit, col("i") + 1)) *
          element_at(vLit, col("i") + 1) * lit(2d)).cast("long")).cast("double") / lit(1e6d)).as("pc2")
        noop(ex.groupBy("id").agg(pc1, pc2)
          .select(col("id"), col("pc1"), col("pc2")).orderBy("id"))
      }
      t(s"full r$r") {
        noop(graft.operators.Similarity.pcaPowerProject(embeddings, idCol, vecCol, 2, 3))
      }
    }
  }

  def q110(spark: SparkSession, d: String): Unit = {
    val li0 = Tables.load(spark, d, "lineitem").select(
      (col("l_partkey") * 2).as("src"),
      (col("l_suppkey") * 2 + 1).as("dst"))
    val edges = li0.unionAll(li0.select(col("dst").as("src"), col("src").as("dst")))
    t("edges noop") { noop(edges) }
    val e = edges.select(col("src"), col("dst")).distinct()
    t("e distinct") { noop(e) }
    val deg = e.groupBy("src").agg(count(lit(1)).as("deg"))
    var index: org.apache.spark.sql.DataFrame = null
    t("index build+checkpoint") { index = e.join(deg, "src").localCheckpoint(true) }
    var ranks = index.select(col("src").as("node")).distinct()
      .withColumn("rank", lit(1.0))
    t("nodes distinct") { noop(ranks) }
    for (i <- 1 to 2) {
      ranks = index.join(ranks, col("src") === col("node"))
        .select(col("dst"),
          (col("rank") / col("deg")).cast("decimal(28,9)").as("c"))
        .groupBy(col("dst").as("node"))
        .agg((lit(1.0 - 0.85) + lit(0.85) * sum(col("c")).cast("double"))
          .as("rank"))
    }
    t("2 iters + top20") {
      noop(ranks
        .select(col("node"), col("rank").cast("decimal(18,6)").cast("double").as("rank"))
        .orderBy(col("rank").desc, col("node"))
        .limit(20))
    }
  }

  def kde(spark: SparkSession, d: String): Unit = {
    val orders = Tables.load(spark, d, "orders")
    val (vMin, vMax, gridN, bandwidth) = (0.0, 500000.0, 21, 25000.0)
    val value = col("o_totalprice")
    val step = (vMax - vMin) / (gridN - 1).toDouble
    val sqrt2pi = 2.5066282746310002d
    for (r <- 1 to 3) {
      t(s"kde OLD r$r") {
        val grid = spark.range(gridN.toLong)
          .select(col("id").cast("int").as("gi"),
            (lit(vMin) + col("id").cast("double") * step).as("g"))
        val u = (col("g") - value.cast("double")) / bandwidth
        noop(orders.crossJoin(broadcast(grid))
          .select(col("gi"), col("g"),
            exp(u * u * -0.5d).cast("decimal(18,9)").as("term"))
          .groupBy("gi", "g")
          .agg(count(lit(1)).as("n"), sum("term").as("ksum"))
          .select(col("gi"), col("g").cast("double").as("x"),
            (col("ksum").cast("double") /
              (col("n").cast("double") * bandwidth * sqrt2pi))
              .cast("decimal(18,12)").cast("double").as("density"))
          .orderBy("gi"))
      }
      t(s"kde NEW r$r") {
        noop(graft.operators.Analytics.kdeGrid(orders, value, vMin, vMax, gridN, bandwidth))
      }
    }
  }

  def q126(spark: SparkSession, d: String): Unit = {
    import org.apache.spark.sql.expressions.Window
    import spark.implicits._
    val documents = Tables.load(spark, d, "documents")
    val base = documents.select(col("doc_id"), col("text"))
    val dups = documents.filter(col("doc_id") < 20)
      .select((col("doc_id") + 1000000).as("doc_id"),
        concat(col("text"), lit(" suffix-token")).as("text"))
    val docs = base.unionAll(dups)
    val threshold = 0.5
    val sh = docs.select(col("doc_id").cast("long"), col("text"))
      .as[(Long, String)]
      .flatMap { case (id, t) =>
        graft.operators.Dedup.shingles(Option(t).getOrElse(""), 3).distinct.map(h => (id, h)) }
      .toDF("doc_id", "h")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    t("sh build") { noop(sh) }
    println("sh rows " + sh.count())
    val freq = sh.groupBy("h").agg(count(lit(1)).as("df"))
    t("freq") { noop(freq) }
    val wSize = Window.partitionBy("doc_id")
    val wOrder = Window.partitionBy("doc_id").orderBy(col("df"), col("h"))
    val prefix = sh.join(freq, Seq("h"))
      .withColumn("set_size", count(lit(1)).over(wSize))
      .withColumn("pos", row_number().over(wOrder))
      .filter(col("pos") <=
        col("set_size") - ceil(col("set_size") * threshold) + 1)
      .select(col("doc_id"), col("h"), col("set_size"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    t("prefix") { noop(prefix) }
    println("prefix rows " + prefix.count())
    val cands = prefix.toDF("id_a", "h", "size_a")
      .join(prefix.toDF("id_b", "h", "size_b"), Seq("h"))
      .filter(col("id_a") < col("id_b") &&
        col("size_a") * threshold <= col("size_b") &&
        col("size_b") * threshold <= col("size_a"))
      .select("id_a", "id_b", "size_a", "size_b")
      .distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    t("cands") { noop(cands) }
    println("cands rows " + cands.count())
    for (r <- 1 to 2) {
      t(s"verify join OLD r$r") {
        val pairs = cands
          .join(sh.toDF("id_a", "h"), Seq("id_a"))
          .join(sh.toDF("id_b", "h"), Seq("id_b", "h"))
          .groupBy("id_a", "id_b", "size_a", "size_b")
          .agg(count(lit(1)).as("inter"))
          .select(col("id_a").as("doc_id_a"), col("id_b").as("doc_id_b"),
            (col("inter").cast("double") /
              (col("size_a") + col("size_b") - col("inter"))).as("jaccard"))
          .filter(col("jaccard") >= threshold)
          .orderBy("doc_id_a", "doc_id_b")
        noop(pairs)
      }
      t(s"verify join NEW r$r") {
        val sets = sh.groupBy("doc_id").agg(collect_list("h").as("hs"))
        val pairs = cands
          .join(sets.select(col("doc_id").as("id_a"), col("hs").as("hs_a")), Seq("id_a"))
          .join(sets.select(col("doc_id").as("id_b"), col("hs").as("hs_b")), Seq("id_b"))
          .select(col("id_a"), col("id_b"), col("size_a"), col("size_b"),
            size(array_intersect(col("hs_a"), col("hs_b"))).as("inter"))
          .filter(col("inter") >= 1)
          .select(col("id_a").as("doc_id_a"), col("id_b").as("doc_id_b"),
            (col("inter").cast("double") /
              (col("size_a") + col("size_b") - col("inter"))).as("jaccard"))
          .filter(col("jaccard") >= threshold)
          .orderBy("doc_id_a", "doc_id_b")
        noop(pairs)
      }
    }
  }

  /** Round-13 q126 A/B: r12 formulation (prefix agg duplicated by the
    * self-join; sets from a third doc-keyed shuffle) vs checkpointed
    * shared prefix aggregate. */
  def q126ab(spark: SparkSession, d: String): Unit = {
    val docs = Tables.load(spark, d, "documents")
    val threshold = 0.7
    import spark.implicits._
    def run(shared: Boolean): Unit = {
      val sh = docs.select(col("doc_id").cast("long"), col("text"))
        .as[(Long, String)]
        .flatMap { case (id, t) =>
          graft.operators.Dedup.shingles(Option(t).getOrElse(""), 3)
            .distinct.map(h => (id, h)) }
        .toDF("doc_id", "h")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val freq = sh.groupBy("h").agg(count(lit(1)).as("df"))
      val aggDf = sh.join(freq, Seq("h"))
        .groupBy("doc_id")
        .agg(sort_array(collect_list(struct(col("df"), col("h")))).as("fs"))
      val prefixFull = if (shared) aggDf.localCheckpoint(true) else aggDf
      val prefix = prefixFull
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
      val sets =
        if (shared) prefixFull.select(col("doc_id"), expr("transform(fs, x -> x.h)").as("hs"))
        else sh.groupBy("doc_id").agg(collect_list("h").as("hs"))
      val pairs = cands
        .join(sets.select(col("doc_id").as("id_a"), col("hs").as("hs_a")), Seq("id_a"))
        .join(sets.select(col("doc_id").as("id_b"), col("hs").as("hs_b")), Seq("id_b"))
        .select(col("id_a"), col("id_b"), col("size_a"), col("size_b"),
          size(array_intersect(col("hs_a"), col("hs_b"))).as("inter"))
        .filter(col("inter") >= 1)
        .select(col("id_a").as("doc_id_a"), col("id_b").as("doc_id_b"),
          (col("inter").cast("double") /
            (col("size_a") + col("size_b") - col("inter"))).as("jaccard"))
        .filter(col("jaccard") >= threshold)
        .orderBy("doc_id_a", "doc_id_b")
      noop(pairs)
      sh.unpersist(false)
    }
    for (r <- 1 to 3) {
      t(s"q126 old (dup agg) r$r") { run(false) }
      t(s"q126 new (ckpt shared) r$r") { run(true) }
    }
  }

  /** Round-13 plan evidence: the changed stages, before (r12 tree) vs
    * after (this tree), explained over the real sf0.1 inputs — the final
    * plans of these pipelines are checkpoint-hidden, so the changed STAGE
    * is what gets explained (the r12 precedent). */
  def plans13(spark: SparkSession, d: String): Unit = {
    val dir = "plans/r13"
    new java.io.File(dir).mkdirs()

    // ---- q133: degree aggregate, two-branch union scan vs single explode scan
    locally {
      val edges = coEdges(spark, d)
      val und = edges.select(
          least(col("pa"), col("pb")).as("a"), greatest(col("pa"), col("pb")).as("b"))
        .filter(col("a") =!= col("b")).distinct()
      val degOld = und.select(col("a").as("n")).unionAll(und.select(col("b").as("n")))
        .groupBy("n").agg(count(lit(1)).as("deg"))
      val degNew = und.select(explode(array(col("a"), col("b"))).as("n"))
        .groupBy("n").agg(count(lit(1)).as("deg"))
      writePlan(s"$dir/q133_triangles_before.txt",
        "q133_triangles — DEGREE stage, PRE-round-13 formulation: the cached\n" +
        "undirected edge list is scanned TWICE (two union branches) into the\n" +
        "node-count aggregate. (Full-query plan is checkpoint-hidden; this is\n" +
        "the changed stage over the real sf0.1 co-occurrence pipeline.\n" +
        "A/B warm: 1.13 s vs 0.64 s for the explode form.)", degOld)
      writePlan(s"$dir/q133_triangles_after.txt",
        "q133_triangles — DEGREE stage, round-13 formulation: ONE scan of the\n" +
        "cached edge list, both endpoints exploded map-side into the same\n" +
        "aggregate (one Generate node replaces the two-branch Union).", degNew)
    }

    // ---- CC-star round body: r12 unbounded collect_set vs round-13
    //      bounded_collect_set optimistic round (same shape; hub rounds
    //      re-run through the join formulation, shown separately)
    locally {
      val documents = Tables.load(spark, d, "documents")
      val pairs = documents.select((col("doc_id") + 1).as("u"), col("doc_id").as("v"))
      val edges = pairs.where(col("u") =!= col("v")).distinct()
      val sym = edges.unionAll(edges.select(col("v").as("u"), col("u").as("v")))
      def roundOld: DataFrame = {
        val large = sym.groupBy("u")
          .agg(least(col("u"), min(col("v"))).as("m"),
            collect_set(when(col("v") > col("u"), col("v"))).as("big"))
          .select(explode(col("big")).as("u"), col("m").as("v"))
        large.groupBy("u")
          .agg(min(col("v")).as("m"), collect_set(col("v")).as("vs"))
          .select(explode(concat(col("vs"), array(col("u")))).as("u2"), col("m"))
          .where(col("u2") =!= col("m"))
          .select(col("u2").as("u"), col("m").as("v"))
          .distinct()
      }
      def roundNew: DataFrame = {
        val large = sym.groupBy("u")
          .agg(least(col("u"), min(col("v"))).as("m"),
            graft.functions.Native.boundedCollectSet(
              when(col("v") > col("u"), col("v")), 1 << 17).as("big"))
          .select(explode(col("big")).as("u"), col("m").as("v"))
        large.groupBy("u")
          .agg(min(col("v")).as("m"),
            graft.functions.Native.boundedCollectSet(col("v"), 1 << 17).as("vs"))
          .select(explode(concat(col("vs"), array(col("u")))).as("u2"), col("m"))
          .where(col("u2") =!= col("m"))
          .select(col("u2").as("u"), col("m").as("v"))
          .distinct()
      }
      def roundHub: DataFrame = {
        val minL = sym.groupBy("u").agg(least(col("u"), min(col("v"))).as("m"))
        val large = sym.join(minL, Seq("u")).where(col("v") > col("u"))
          .select(col("v").as("u"), col("m").as("v"))
        val minS = large.groupBy("u").agg(min(col("v")).as("m"))
        large.join(minS, Seq("u")).select(col("v").as("u2"), col("m"))
          .unionAll(minS.select(col("u").as("u2"), col("m")))
          .where(col("u2") =!= col("m"))
          .select(col("u2").as("u"), col("m").as("v"))
          .distinct()
      }
      writePlan(s"$dir/cc_star_round_before.txt",
        "connectedComponentsStar (q87/q113/q179/q210/q343) — ONE round,\n" +
        "PRE-round-13: each star pass buffers the apex's ENTIRE (half-)\n" +
        "neighborhood in one unbounded collect_set ObjectHashAggregate\n" +
        "buffer — a single-task OOM on a mega-hub component at 100 TB.",
        roundOld)
      writePlan(s"$dir/cc_star_round_after.txt",
        "connectedComponentsStar — ONE round, round-13: the SAME plan shape\n" +
        "(zero-cost common case, A/B'd flat: 2.37-2.45 s vs 2.50-2.60 s on\n" +
        "the q343 core graph) with bounded_collect_set capping per-key state\n" +
        "at hubCap distinct values; an accumulator counts overflowed keys\n" +
        "and a round that overflowed is discarded and re-run through the\n" +
        "join formulation in cc_star_round_hub_fallback.txt.",
        roundNew)
      writePlan(s"$dir/cc_star_round_hub_fallback.txt",
        "connectedComponentsStar — the HUB-round fallback (only runs when\n" +
        "bounded_collect_set reported overflow > 0): per pass a fixed-buffer\n" +
        "MIN aggregate + streaming join; no per-key state grows with degree.\n" +
        "(In the operator, `large` is additionally localCheckpoint'ed so the\n" +
        "small pass reads materialized blocks.)",
        roundHub)
    }
  }

  /** Round-13 item-7: pageRankDirected per-iteration eager-checkpoint
    * cadence A/B on q326's real customer→order graph. Variant L skips the
    * intermediate checkpoints (only the LAST frame is materialized —
    * sound for pageRankDirected, whose caller reads only .last and whose
    * intermediate frames are each referenced once by the next iteration;
    * pageRankConvergence reads every frame twice and keeps the cadence). */
  def pr13(spark: SparkSession, d: String): Unit = {
    val orders = Tables.load(spark, d, "orders")
    val e0 = orders.select(
      (col("o_custkey") * 2).as("src"), (col("o_orderkey") * 2 + 1).as("dst"))
    def frames(checkpointEach: Boolean): DataFrame = {
      val e = e0.select(col("src"), col("dst")).distinct()
      val deg = e.groupBy("src").agg(count(lit(1)).as("deg"))
      val index = e.join(deg, "src")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val nodes = e.select(col("src").as("node"))
        .unionAll(e.select(col("dst").as("node"))).distinct()
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val dangling = nodes.join(deg.select(col("src").as("node")), Seq("node"), "left_anti")
      val nFrame = nodes.agg(count(lit(1)).as("n"))
      var ranks = nodes.withColumn("rank", lit(1.0))
      val damping = 0.85
      for (it <- 1 to 2) {
        val contrib = index.join(ranks, col("src") === col("node"))
          .select(col("dst"),
            (col("rank") / col("deg")).cast("decimal(28,9)").as("c"))
          .groupBy("dst").agg(sum("c").as("s"))
        val mFrame = ranks.join(dangling, Seq("node"), "left_semi")
          .agg(coalesce(sum(col("rank").cast("decimal(28,9)")),
            lit(0).cast("decimal(28,9)")).as("m"))
        val r2 = nodes
          .join(contrib, col("node") === col("dst"), "left")
          .crossJoin(broadcast(mFrame)).crossJoin(broadcast(nFrame))
          .select(col("node"),
            (lit(1.0 - damping) + lit(damping) *
              (coalesce(col("s").cast("double"), lit(0.0)) +
                col("m").cast("double") / col("n").cast("double"))).as("rank"))
        ranks = if (checkpointEach || it == 2) r2.localCheckpoint(true) else r2
      }
      index.unpersist(false); nodes.unpersist(false)
      ranks
    }
    def topk(r: DataFrame) = r
      .select(col("node"), col("rank").cast("decimal(18,6)").cast("double").as("rank"))
      .orderBy(col("rank").desc, col("node")).limit(20)
    for (r <- 1 to 3) {
      t(s"q326 checkpoint-each-iter r$r") { noop(topk(frames(true))) }
      t(s"q326 checkpoint-last-only r$r") { noop(topk(frames(false))) }
    }
  }

  /** Round-13 item-5 decompositions: where q238/q139 (co-occurrence
    * consumers), q228 (bootstrap) and q317 (dunn) actually spend. */
  def tail13(spark: SparkSession, d: String): Unit = {
    for (r <- 1 to 2) {
      t(s"coEdges raw noop r$r") { noop(coEdges(spark, d)) }
      t(s"supported (w>=2) noop r$r") {
        noop(coEdges(spark, d).groupBy("pa", "pb").agg(count(lit(1)).as("w"))
          .filter(col("w") >= 2).select("pa", "pb"))
      }
      t(s"q238 full r$r") {
        noop(graft.operators.Graph.neighborJaccard(
          coEdges(spark, d).groupBy("pa", "pb").agg(count(lit(1)).as("w"))
            .filter(col("w") >= 2).select("pa", "pb"),
          "pa", "pb", minCommon = 1))
      }
      t(s"q139 full r$r") {
        noop(graft.operators.Graph.labelPropagation(
          coEdges(spark, d).groupBy("pa", "pb").agg(count(lit(1)).as("w"))
            .filter(col("w") >= 2).select("pa", "pb"), "pa", "pb"))
      }
      val events = Tables.events(spark, d)
      t(s"q228 events noop r$r") { noop(events.select("event_id", "value")) }
      t(s"q228 full r$r") {
        noop(graft.operators.Analytics.poissonBootstrapCI(events, "event_id", "value"))
      }
      val orders = Tables.load(spark, d, "orders")
      t(s"q317 cells agg r$r") {
        noop(orders.groupBy(col("o_totalprice").cast("decimal(18,2)").as("v"),
          col("o_orderpriority").as("grp")).agg(count(lit(1)).as("cnt")))
      }
      t(s"q317 full r$r") {
        noop(graft.operators.Evaluation.dunnTest(orders, "o_orderpriority",
          col("o_totalprice").cast("decimal(18,2)")))
      }
    }
  }

  /** CC-star formulation A/B on the real q343 core graph: r12 unbounded
    * agg+explode vs bounded-set w/ lazy fallback (shipped candidate) vs
    * join-based hub-safe rounds. */
  def ccab(spark: SparkSession, d: String): Unit = {
    val coreEdges = q343CoreEdges(spark, d).localCheckpoint(true)
    println("coreEdges rows " + coreEdges.count())

    // A: the r12 shipped shape (unbounded collect_set, agg + explode)
    def ccA(pairs: DataFrame): DataFrame = {
      val nodes = pairs.select(col("id_a").as("node"))
        .unionAll(pairs.select(col("id_b").as("node"))).distinct().localCheckpoint()
      var edges = pairs
        .select(greatest(col("id_a"), col("id_b")).as("u"), least(col("id_a"), col("id_b")).as("v"))
        .where(col("u") =!= col("v")).distinct().localCheckpoint()
      var m = edges.count(); var converged = m == 0L; var i = 0
      while (!converged && i < 50) {
        val sym = edges.unionAll(edges.select(col("v").as("u"), col("u").as("v")))
        val large = sym.groupBy("u")
          .agg(least(col("u"), min(col("v"))).as("m"),
            collect_set(when(col("v") > col("u"), col("v"))).as("big"))
          .select(explode(col("big")).as("u"), col("m").as("v"))
        val next = large.groupBy("u")
          .agg(min(col("v")).as("m"), collect_set(col("v")).as("vs"))
          .select(explode(concat(col("vs"), array(col("u")))).as("u2"), col("m"))
          .where(col("u2") =!= col("m"))
          .select(col("u2").as("u"), col("m").as("v"))
          .distinct().localCheckpoint()
        val m2 = next.count()
        converged = m2 == m && next.join(edges, Seq("u", "v"), "left_anti").isEmpty
        edges = next; m = m2; i += 1
      }
      nodes.join(edges.select(col("u").as("node"), col("v").as("root")), Seq("node"), "left")
        .select(col("node"), coalesce(col("root"), col("node")).as("cluster_id"))
        .orderBy("node")
    }

    // C: join-based rounds (hub-safe without bounded sets): min agg +
    // streaming join per pass, `large` checkpointed once per round
    def ccC(pairs: DataFrame): DataFrame = {
      val nodes = pairs.select(col("id_a").as("node"))
        .unionAll(pairs.select(col("id_b").as("node"))).distinct().localCheckpoint()
      var edges = pairs
        .select(greatest(col("id_a"), col("id_b")).as("u"), least(col("id_a"), col("id_b")).as("v"))
        .where(col("u") =!= col("v")).distinct().localCheckpoint()
      var m = edges.count(); var converged = m == 0L; var i = 0
      while (!converged && i < 50) {
        val sym = edges.unionAll(edges.select(col("v").as("u"), col("u").as("v")))
        val minL = sym.groupBy("u").agg(least(col("u"), min(col("v"))).as("m"))
        val large = sym.join(minL, Seq("u")).where(col("v") > col("u"))
          .select(col("v").as("u"), col("m").as("v"))
          .localCheckpoint()
        val minS = large.groupBy("u").agg(min(col("v")).as("m"))
        val next = large.join(minS, Seq("u")).select(col("v").as("u2"), col("m"))
          .unionAll(minS.select(col("u").as("u2"), col("m")))
          .where(col("u2") =!= col("m"))
          .select(col("u2").as("u"), col("m").as("v"))
          .distinct().localCheckpoint()
        val m2 = next.count()
        converged = m2 == m && next.join(edges, Seq("u", "v"), "left_anti").isEmpty
        edges = next; m = m2; i += 1
      }
      nodes.join(edges.select(col("u").as("node"), col("v").as("root")), Seq("node"), "left")
        .select(col("node"), coalesce(col("root"), col("node")).as("cluster_id"))
        .orderBy("node")
    }

    for (r <- 1 to 3) {
      t(s"A r12 agg+explode r$r") { noop(ccA(coreEdges)) }
      t(s"B bounded+lazy-fallback r$r") {
        noop(graft.operators.Dedup.connectedComponentsStar(coreEdges, "id_a", "id_b"))
      }
      t(s"C join-based r$r") { noop(ccC(coreEdges)) }
    }
  }

  /** q343's core-point edge list (the CC-star input), shared by [[ccab]]. */
  def q343CoreEdges(spark: SparkSession, d: String): DataFrame = {
    val pts0 = Tables.embeddings(spark, d)
    val eps = 0.04
    val pts = pts0.select(col("vec_id").as("id"),
      element_at(col("embedding"), 1).cast("double").as("x"),
      element_at(col("embedding"), 2).cast("double").as("y"))
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
    val nbr = probe.join(home, Seq("cx", "cy"))
      .filter(col("id_a") =!= col("id_b"))
      .filter((col("xa") - col("xb")) * (col("xa") - col("xb")) +
        (col("ya") - col("yb")) * (col("ya") - col("yb")) <=
        lit(eps) * lit(eps))
      .select("id_a", "id_b")
    val core = nbr.groupBy("id_a").agg(count(lit(1)).as("nn"))
      .filter(col("nn") + 1 >= 5).select(col("id_a").as("id"))
    nbr
      .join(core.select(col("id").as("id_a")), "id_a")
      .join(core.select(col("id").as("id_b")), "id_b")
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b")
  }

  def q343(spark: SparkSession, d: String): Unit = {
    val pts0 = Tables.embeddings(spark, d)
    val eps = 0.04
    val pts = pts0.select(col("vec_id").as("id"),
      element_at(col("embedding"), 1).cast("double").as("x"),
      element_at(col("embedding"), 2).cast("double").as("y"))
    t("pts noop") { noop(pts) }
    val home = pts.select(col("id").as("id_b"), col("x").as("xb"), col("y").as("yb"),
      floor(col("x") / lit(eps)).cast("long").as("cx"),
      floor(col("y") / lit(eps)).cast("long").as("cy"))
    val offsets = array((-1 to 1).flatMap(dx => (-1 to 1).map(dy =>
      struct(lit(dx).as("dx"), lit(dy).as("dy")))): _*)
    val probe2 = pts.select(col("id").as("id_a"), col("x").as("xa"),
        col("y").as("ya"), explode(offsets).as("o"))
      .select(col("id_a"), col("xa"), col("ya"),
        (floor(col("xa") / lit(eps)).cast("long") + col("o.dx")).as("cx"),
        (floor(col("ya") / lit(eps)).cast("long") + col("o.dy")).as("cy"))
    val nbr = probe2.join(home, Seq("cx", "cy"))
      .filter(col("id_a") =!= col("id_b"))
      .filter((col("xa") - col("xb")) * (col("xa") - col("xb")) +
        (col("ya") - col("yb")) * (col("ya") - col("yb")) <=
        lit(eps) * lit(eps))
      .select("id_a", "id_b")
    println("nbr rows " + nbr.count())
    val core = nbr.groupBy("id_a").agg(count(lit(1)).as("nn"))
      .filter(col("nn") + 1 >= 5).select(col("id_a").as("id"))
    println("core rows " + core.count())
    val coreEdges = nbr
      .join(core.select(col("id").as("id_a")), "id_a")
      .join(core.select(col("id").as("id_b")), "id_b")
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b")
    println("coreEdges rows " + coreEdges.count())
    var cc: DataFrame = null
    t("CC star") {
      cc = graft.operators.Dedup.connectedComponentsStar(coreEdges, "id_a", "id_b")
      noop(cc)
    }
    t("rest") {
      val coreLab = core
        .join(cc.select(col("node").as("id"), col("cluster_id")), Seq("id"), "left")
        .select(col("id"), coalesce(col("cluster_id"), col("id")).as("cluster_id"))
      val borderLab = nbr
        .join(coreLab.select(col("id").as("id_b"), col("cluster_id")), "id_b")
        .join(core.select(col("id").as("id_a")), Seq("id_a"), "left_anti")
        .groupBy(col("id_a").as("id")).agg(min("cluster_id").as("cluster_id"))
      val out = pts.select("id")
        .join(coreLab.select(col("id"), col("cluster_id").as("core_cl")), Seq("id"), "left")
        .join(borderLab.select(col("id"), col("cluster_id").as("bord_cl")), Seq("id"), "left")
        .select(col("id"),
          when(col("core_cl").isNotNull, lit("core"))
            .when(col("bord_cl").isNotNull, lit("border"))
            .otherwise(lit("noise")).as("role"),
          coalesce(col("core_cl"), col("bord_cl")).as("cluster_id"))
        .orderBy("id")
      noop(out)
    }
  }
}

package graft

import org.apache.spark.sql.functions._

/** Decade-up evidence (the round-5/6 ordered sf1 run) and the one
  * replicate-and-time rig: materialize a 10× replication of sf0.1 (fact
  * keys offset per copy so joins still line up, dims stay 1× as a star
  * schema does) and run registered queries end-to-end at both scales,
  * twice each (min taken: first pass pays codegen), printing one markdown
  * table row per query. A ratio ≲ 10 on linear-work operators is the
  * no-superlinear-surprise evidence; known caveats are annotated where
  * replication itself changes the workload (co-occurrence pair WEIGHTS
  * multiply ×copies because part keys are shared across offset copies —
  * the support floor then admits more pairs, so graph queries see a denser
  * graph than a real sf1 would; the organic-growth rigs measure those).
  *
  * Usage: runMain graft.ScaleBench [bigDir] [query...]  (defaults:
  * /tmp/sf1, [[DefaultHeavy]]). A name that is not a registered query
  * exits 2 before anything is materialized or timed.
  */
object ScaleBench {
  val DefaultHeavy: Seq[String] = Seq(
    "q240_ppr", "q338_seq_patterns", "q231_eigencentrality", "q337_shapley",
    "q343_dbscan", "q139_label_prop", "q110_pagerank", "q133_triangles",
    "q15_row_hash", "q41_pricing_summary", "q163_weighted_pctile",
    "q341_reciprocal_match", "q122_bigram_novelty", "q335_logrank",
    "q326_pagerank_directed")

  /** The names that are not [[SparkEntry.queries]] keys. */
  private[graft] def unregistered(names: Seq[String]): Seq[String] =
    names.filterNot(SparkEntry.queries.keySet)

  /** Exits 2 on an unregistered name — checked before the rig builds a
    * session, so a typo costs neither a materialization nor a FAILED row. */
  private[graft] def requireRegistered(rig: String, names: Seq[String]): Unit = {
    val unknown = unregistered(names)
    if (unknown.nonEmpty) {
      System.err.println(s"[$rig] not registered queries: ${unknown.mkString(", ")}")
      System.exit(2)
    }
  }

  def main(args: Array[String]): Unit = {
    val bigDir = args.headOption.getOrElse("/tmp/sf1")
    val names = if (args.length > 1) args.drop(1).toSeq else DefaultHeavy
    requireRegistered("sf1", names)
    val factor = 10
    val src = "/root/testdata/sf0.1"
    val spark = Runs.builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // Materialization guard keyed on a sentinel written AFTER the last
    // table: a prior run that crashed mid-materialization (e.g. after
    // lineitem but before the dims) must re-materialize, not silently use
    // a partial bigDir and fail on missing tables / stale ratios.
    val sentinel = new java.io.File(s"$bigDir/_GRAFT_MATERIALIZED")
    if (!sentinel.exists()) {
      val t0 = System.nanoTime()
      def replicate(name: String, keyCols: Map[String, Long]): Unit = {
        val df = Tables.load(spark, src, name)
        val copies = (0 until factor).map { k =>
          keyCols.foldLeft(df) { case (d, (c, stride)) => d.withColumn(c, col(c) + lit(k * stride)) }
        }
        copies.reduce(_.unionAll(_)).write.mode("overwrite").parquet(s"$bigDir/$name.parquet")
      }
      replicate("lineitem", Map("l_orderkey" -> 10000000L))
      replicate("orders", Map("o_orderkey" -> 10000000L))
      replicate("documents", Map("doc_id" -> 10000000L))
      replicate("embeddings", Map("vec_id" -> 10000000L))
      replicate("events", Map("event_id" -> 10000000L))
      Seq("customer", "nation", "region", "part", "supplier").foreach { n =>
        Tables.load(spark, src, n).write.mode("overwrite").parquet(s"$bigDir/$n.parquet")
      }
      java.nio.file.Files.write(sentinel.toPath, Array.emptyByteArray)
      println(f"[sf1] ${factor}x materialization done in ${(System.nanoTime() - t0) / 1e9}%.1f s " +
        s"(lineitem rows: ${spark.read.parquet(s"$bigDir/lineitem.parquet").count()})")
    }

    Runs.warm(spark)
    def timed(name: String, dir: String): Double =
      Runs.timed(spark)(SparkEntry.queries(name)(_, dir))
    println("| query | sf0.1 s | sf1 s | ratio |")
    println("|---|---|---|---|")
    names.foreach { n =>
      try {
        val s1 = math.min(timed(n, src), timed(n, src))
        // min-of-2 pays codegen on pass 1; past 100 s the first pass IS
        // steady-state (codegen is milliseconds against minutes) and a
        // second pass of a 300 s monster doubles the sweep for no signal
        val first10 = timed(n, bigDir)
        val s10 = if (first10 >= 100.0) first10
                  else math.min(first10, timed(n, bigDir))
        println(f"| $n | $s1%.2f | $s10%.2f | ${s10 / s1}%.1f |")
      } catch { case e: Throwable =>
        println(s"| $n | FAILED ${e.getMessage.take(80)} | | |")
      }
    }
    spark.stop()
  }
}

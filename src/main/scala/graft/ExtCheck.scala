package graft

/** End-to-end check of the extension entry point: builds a session WITH
  * `spark.sql.extensions=graft.GraftExtensions` (fresh JVM via sbt fork) and
  * calls the injected function from plain SQL. */
object ExtCheck {
  def main(args: Array[String]): Unit = {
    val spark = Runs.builder()
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val c = spark.sql(
      "SELECT cosine_f32(array(CAST(3.0 AS FLOAT), CAST(0.0 AS FLOAT)), " +
        "array(CAST(1.0 AS FLOAT), CAST(0.0 AS FLOAT))) AS c").head().getDouble(0)
    println(s"[extcheck] cosine_f32 via spark.sql.extensions = $c " +
      (if (math.abs(c - 1.0) < 1e-12) "OK" else "FAIL"))

    // injected SQL function
    val d = spark.sql("SELECT levenshtein_bounded('kitten', 'sitting', 3) AS d").head().getInt(0)
    println(s"[extcheck] levenshtein_bounded via extensions = $d " + (if (d == 3) "OK" else "FAIL"))

    // injected optimizer rule: a full-DP levenshtein comparison must be
    // rewritten to the banded expression AND keep identical results
    import spark.implicits._
    val words = Seq("cold bolt", "old bolt", "red widget", "blue belt", "bold colt")
      .zipWithIndex.map { case (w, i) => (i.toLong, w) }
    val df = words.toDF("id", "w")
    val q = df.as("a").crossJoin(df.as("b"))
      .where(org.apache.spark.sql.functions.levenshtein(
        org.apache.spark.sql.functions.col("a.w"),
        org.apache.spark.sql.functions.col("b.w")) <= 2)
    val optimized = q.queryExecution.optimizedPlan.toString
    val rewritten = optimized.contains("levenshtein_bounded")
    val nPairs = q.count()
    val expected = words.flatMap { case (i, w1) => words.collect {
      case (j, w2) if org.apache.spark.unsafe.types.UTF8String.fromString(w1)
        .levenshteinDistance(org.apache.spark.unsafe.types.UTF8String.fromString(w2)) <= 2 => (i, j)
    } }.size
    println(s"[extcheck] optimizer rewrite fired = $rewritten, results match = ${nPairs == expected} " +
      (if (rewritten && nPairs == expected) "OK" else "FAIL"))

    spark.stop()
    if (math.abs(c - 1.0) >= 1e-12 || d != 3 || !rewritten || nPairs != expected) sys.exit(1)
  }
}
